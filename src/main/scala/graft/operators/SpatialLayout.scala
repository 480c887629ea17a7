package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.cell_id
import graft.geo.CellIndex

/**
 * Cell-clustered parquet layout — the data-PLACEMENT half of the spatial
 * story (the joins/kNN are the compute half). The reference re-walks its
 * whole project tree per query and re-parses on demand (reference:
 * src/mcp_server_tree_sitter/models/project.py:75-131 scans everything,
 * cache or not); at 10^12 rows the equivalent "scan it all and filter"
 * is the single biggest waste an engine can have, so this operator
 * materializes tables CLUSTERED by their spatial cell:
 *
 *  - `writeClustered` range-partitions and sorts rows by
 *    `cell_id(lat, lon, res)` before writing parquet. Each output file
 *    then covers a narrow, non-overlapping id range, and the column's
 *    parquet row-group min/max statistics turn any cell-range predicate
 *    into file/row-group SKIPS instead of scans (LayoutSpec pins both
 *    the disjointness of per-file ranges and the predicate pushdown).
 *  - `readBBox` rebuilds the pruning predicate from the layout's own
 *    metadata: the id encoding is `(res << 58) | (ix << 29) | iy`
 *    (`CellIndex`), so a bbox at the layout resolution is a stack of
 *    per-`ix`-strip CONTIGUOUS id ranges `[make(res,ix,iy0),
 *    make(res,ix,iy1)]`. Up to `maxRanges` strips are emitted as an OR
 *    of BETWEENs (each pushes to parquet); wider boxes fall back to the
 *    single covering range `[make(res,ix0,iy0), make(res,ix1,iy1)]` — a
 *    superset that still prunes the longitude extent. The EXACT bbox
 *    test on lat/lon is applied on top, so results are precise
 *    regardless of which pruning form ran.
 *
 * Scale notes: `repartitionByRange` samples the cell column once to pick
 * boundaries (one extra pass, standard at any scale) and gives
 * non-overlapping sorted partitions — the property the pruning relies
 * on. Clustering at res r serves every query at resolution ≤ r (parents
 * are id-prefix ranges); pick r so a cell ≈ the finest common query
 * window. Metadata rides in `_graft_layout` next to the data via the
 * Hadoop FileSystem API, so the layout works on file://, hdfs://, s3a://
 * alike.
 */
object SpatialLayout {
  private val MetaName = "_graft_layout"

  final case class Meta(latCol: String, lonCol: String, res: Int)

  /** Write `df` clustered by `cell_id(latCol, lonCol, res)`; the cell
   * lands as a visible `cell_id` column for readers/pruners. */
  def writeClustered(
      df: DataFrame,
      latCol: String, lonCol: String, res: Int,
      path: String,
      partitions: Int = 0): Unit = {
    require(res >= 0 && res <= CellIndex.MaxRes, s"res $res out of [0, ${CellIndex.MaxRes}]")
    val withCell = df.withColumn("cell_id", cell_id(col(latCol), col(lonCol), res))
    val ranged =
      if (partitions > 0) withCell.repartitionByRange(partitions, col("cell_id"))
      else withCell.repartitionByRange(col("cell_id"))
    ranged.sortWithinPartitions("cell_id")
      .write.mode("overwrite").parquet(path)
    writeMeta(df.sparkSession, path, Meta(latCol, lonCol, res))
  }

  /** Full clustered scan (data + `cell_id`). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def meta(spark: SparkSession, path: String): Meta =
    readMeta(spark, path)

  /**
   * Rows whose point lies in [latMin, latMax] × [lonMin, lonMax]
   * (inclusive; lonMin ≤ lonMax — no antimeridian wrap). The cell-range
   * pruning predicate is derived from the layout metadata as described
   * above; the exact bbox test keeps the result precise.
   */
  def readBBox(
      spark: SparkSession, path: String,
      latMin: Double, latMax: Double,
      lonMin: Double, lonMax: Double,
      maxRanges: Int = 64): DataFrame = {
    require(latMin <= latMax && lonMin <= lonMax, "empty bbox")
    val m = readMeta(spark, path)
    // corner cells via the same clamped encoding as the data itself
    val lo = CellIndex.latLonToCell(latMin, lonMin, m.res)
    val hi = CellIndex.latLonToCell(latMax, lonMax, m.res)
    val (ix0, ix1) = (CellIndex.ix(lo), CellIndex.ix(hi))
    val (iy0, iy1) = (CellIndex.iy(lo), CellIndex.iy(hi))
    val cellRanges =
      if (ix1 - ix0 + 1 <= maxRanges)
        (ix0 to ix1).map(x =>
          (CellIndex.make(m.res, x, iy0), CellIndex.make(m.res, x, iy1)))
      else Seq((CellIndex.make(m.res, ix0, iy0), CellIndex.make(m.res, ix1, iy1)))
    val prune = cellRanges
      .map { case (a, b) => col("cell_id") >= a && col("cell_id") <= b }
      .reduce(_ || _)
    read(spark, path)
      .where(prune)
      .where(col(m.latCol) >= latMin && col(m.latCol) <= latMax &&
        col(m.lonCol) >= lonMin && col(m.lonCol) <= lonMax)
  }

  /**
   * Rows whose `cell_id` is one of `cells` (exact membership). Sorted
   * distinct ids are first merged into contiguous ranges (consecutive
   * ids = consecutive `iy` within an `ix` strip — exactly what a
   * polygon's cell cover produces), each pushed to the scan as a
   * BETWEEN; the exact `isin` runs on top. Past `maxRanges` merged
   * ranges the pruning falls back to the single [min, max] covering
   * range — still a valid superset.
   */
  def readCells(
      spark: SparkSession, path: String,
      cells: Seq[Long], maxRanges: Int = 256): DataFrame = {
    require(cells.nonEmpty, "empty cell set")
    val sorted = cells.distinct.sorted
    val merged = sorted.tail.foldLeft(List((sorted.head, sorted.head))) {
      case ((lo, hi) :: rest, c) =>
        if (c == hi + 1) (lo, c) :: rest else (c, c) :: (lo, hi) :: rest
      case (Nil, c) => List((c, c)) // unreachable; keeps the match total
    }.reverse
    val ranges =
      if (merged.size <= maxRanges) merged
      else List((sorted.head, sorted.last))
    val prune = ranges
      .map { case (a, b) =>
        if (a == b) col("cell_id") === a else col("cell_id") >= a && col("cell_id") <= b }
      .reduce(_ || _)
    read(spark, path).where(prune).where(col("cell_id").isin(sorted: _*))
  }

  /**
   * Spatial join against the CLUSTERED table with scan-side pruning: only
   * layout files covering the polygons' cells are read at all, then the
   * rows refine through the ordinary two-phase [[SpatialJoin]] (same
   * row-set contract — SpatialLayoutSpec pins equality with the
   * full-scan join). The polygon layer's rings are collected to the
   * driver to compute the cover — use this for the broadcast-sized
   * polygon regime only (the same regime where SpatialJoin broadcasts);
   * huge polygon layers should join the full clustered scan instead.
   */
  def joinPolygons(
      spark: SparkSession, path: String,
      polygons: DataFrame, ringCol: org.apache.spark.sql.Column): DataFrame = {
    val m = readMeta(spark, path)
    val cover = polygons.select(ringCol.as("__ring")).collect()
      .iterator
      .flatMap(r => graft.geo.Geometry.cellCover(
        r.getSeq[Double](0).toArray, m.res))
      .toSeq
    val pts = readCells(spark, path, cover)
    SpatialJoin(pts, polygons, col(m.latCol), col(m.lonCol), ringCol, m.res)
  }

  // ---- metadata (tiny key=value file, Hadoop FS so any scheme works) ----

  private def writeMeta(spark: SparkSession, path: String, m: Meta): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, MetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"res=${m.res}\nlat=${m.latCol}\nlon=${m.lonCol}\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def readMeta(spark: SparkSession, path: String): Meta = {
    val p = new org.apache.hadoop.fs.Path(path, MetaName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        buf.toByteArray
      } finally in.close()
    val kv = new String(bytes, "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1)) }
      .toMap
    Meta(kv("lat"), kv("lon"), kv("res").toInt)
  }
}
