package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{cell_id, cell_parent}

/**
 * Raster↔vector tile materialization at zoom-pinned resolutions (north
 * rule; SURVEY §7.4-6). The zoom→resolution mapping is pinned ONCE here:
 *
 *   zoom z ⇒ tile resolution r(z) = z, payload resolution r(z) + SubGridBits
 *
 * so a raster tile is a fixed 16×16 (SubGridBits=4 per axis) grid of
 * counts over the tile's descendant cells, and a vector tile is the sorted
 * list of (key, entity_idx, cell_id) features inside the tile.
 *
 * Scale design: one `repartitionByRange` on tile_id puts co-located tiles
 * in co-located partitions (range partitioning preserves spatial locality
 * of the (res,ix,iy) key layout); the per-tile aggregation is an ordinary
 * partial+final hash agg — no skew beyond the data's own (hot tiles are
 * split by AQE since counts, not payloads, shuffle for raster).
 */
object Tiler {
  /** 4 bits per axis → 16×16 subgrid per raster tile. */
  val SubGridBits = 4
  val SubGridSize: Int = 1 << SubGridBits // 16

  def tileRes(zoom: Int): Int = zoom
  def payloadRes(zoom: Int): Int = zoom + SubGridBits

  /**
   * Raster tiles: (tile_id, zoom, pix_x, pix_y, n) — one row per non-empty
   * subgrid pixel (sparse representation; a dense 256-long array per tile
   * is `groupBy(tile_id).pivot`-able downstream but sparse keeps shuffles
   * minimal and the row set exactly checkable).
   */
  def raster(points: DataFrame, lat: String, lon: String, zoom: Int): DataFrame = {
    val rT = tileRes(zoom); val rP = payloadRes(zoom)
    // the cell in its own select, so the next one reads this __pcell and never
    // an input column of that name; CollapseProject merges the two, and each
    // select is one analysis where a withColumn per column would be one each
    points
      .select(cell_id(col(lat), col(lon), rP).as("__pcell"))
      .where(col("__pcell").isNotNull) // a NULL or NaN coordinate has no cell
      .select(cell_parent(col("__pcell"), rT).as("tile_id"),
        // pixel coordinates within the tile: low SubGridBits of ix / iy
        (shiftright(col("__pcell"), 29) % SubGridSize).cast("int").as("pix_x"),
        (col("__pcell") % SubGridSize).cast("int").as("pix_y"))
      .groupBy("tile_id", "pix_x", "pix_y")
      .agg(count(lit(1)).as("n"))
      .select(col("tile_id"), lit(zoom).as("zoom"), col("pix_x"), col("pix_y"), col("n"))
  }

  /**
   * Raster→vector conversion: pixels with count ≥ minCount become cell
   * polygons — (cell_id, zoom, n, corner scalars, ring). The payload cell
   * index is reconstructed from (tile_id, pix_x, pix_y); bounds are exact
   * (power-of-two divisions of 360/180 are exact IEEE-754 at the pinned
   * resolutions), so the output is oracle-checkable to the bit. The ring
   * column is SpatialJoin-ready (interleaved [x,y,…] CCW box).
   */
  def vectorize(raster: DataFrame, zoom: Int, minCount: Long): DataFrame = {
    val rP = payloadRes(zoom)
    val scale = (1L << rP).toDouble
    val mask = (1L << 29) - 1
    val dLon = 360.0 / scale
    val dLat = 180.0 / scale
    raster.where(col("n") >= minCount)
      .withColumn("__ix",
        shiftright(col("tile_id"), 29).bitwiseAND(lit(mask)) * SubGridSize + col("pix_x"))
      .withColumn("__iy", col("tile_id").bitwiseAND(lit(mask)) * SubGridSize + col("pix_y"))
      .withColumn("cell_id",
        lit(rP.toLong << 58).bitwiseOR(shiftleft(col("__ix"), 29)).bitwiseOR(col("__iy")))
      .withColumn("lon_min", col("__ix") * dLon - 180.0)
      .withColumn("lat_min", col("__iy") * dLat - 90.0)
      .withColumn("lon_max", (col("__ix") + 1) * dLon - 180.0)
      .withColumn("lat_max", (col("__iy") + 1) * dLat - 90.0)
      .withColumn("ring", array(
        col("lon_min"), col("lat_min"), col("lon_max"), col("lat_min"),
        col("lon_max"), col("lat_max"), col("lon_min"), col("lat_max")))
      .select("cell_id", "zoom", "n", "lon_min", "lat_min", "lon_max", "lat_max", "ring")
  }

  /**
   * Zoom-pyramid rollup: a raster level at `zoom` (the output of
   * [[raster]]) rolled up to every level down to `minZoom`, returned as
   * the UNION of levels minZoom..zoom (same sparse schema, `zoom` column
   * distinguishes). The north rule's "raster↔vector tile materialization
   * at zoom-pinned resolutions" needs the whole pyramid, not one level —
   * a map client reads whichever zoom it is at.
   *
   * EXACT by the grid hierarchy (CellIndexSpec "hierarchy is exact"): a
   * payload cell at res z+4 has global coords IX = ix(tile)·16 + pix_x,
   * and halving them (IX >> 1) IS the direct encoding at zoom z−1, so a
   * coarser pixel's count is exactly the sum of its ≤4 children — level
   * z−1 derives from level z ALONE. That is the 100-TB shape: the points
   * are scanned ONCE (for the base raster); each coarser level shuffles
   * only the previous level's non-empty PIXEL rows (≤ |points|, shrinking
   * ~4× per level), so a 12-level pyramid over 10^12 points costs one
   * point scan plus a geometric tail of tiny integer aggregations. The
   * alternative — re-encoding the points per level — scans the corpus
   * `zoom − minZoom` times for identical output (the q120 oracle proves
   * the identity by computing every level the direct way).
   */
  def pyramid(rasterZ: DataFrame, zoom: Int, minZoom: Int): DataFrame = {
    require(minZoom >= 0 && minZoom <= zoom,
      s"minZoom $minZoom out of [0, $zoom]")
    val mask = (1L << 29) - 1
    var levels = List(rasterZ)
    var cur = rasterZ
    for (z <- (zoom - 1) to minZoom by -1) {
      // global payload coords at level z+1, halved = level-z payload coords
      cur = cur.select(
          shiftright(
            shiftright(col("tile_id"), 29).bitwiseAND(lit(mask)) * SubGridSize
              + col("pix_x"), 1).as("__gx"),
          shiftright(
            col("tile_id").bitwiseAND(lit(mask)) * SubGridSize + col("pix_y"),
            1).as("__gy"),
          col("n"))
        .groupBy(
          (lit(z.toLong << 58)
            .bitwiseOR(shiftleft(shiftright(col("__gx"), SubGridBits), 29))
            .bitwiseOR(shiftright(col("__gy"), SubGridBits))).as("tile_id"),
          (col("__gx") % SubGridSize).cast("int").as("pix_x"),
          (col("__gy") % SubGridSize).cast("int").as("pix_y"))
        .agg(sum("n").as("n"))
        .withColumn("zoom", lit(z))
        .select("tile_id", "zoom", "pix_x", "pix_y", "n")
      levels ::= cur
    }
    levels.reverse.reduce(_ unionByName _)
  }

  /** [[raster]] at `zoom`, then the [[pyramid]] down to `minZoom` — one
   * point scan, zoom−minZoom+1 levels. */
  def rasterPyramid(points: DataFrame, lat: String, lon: String,
      zoom: Int, minZoom: Int): DataFrame =
    pyramid(raster(points, lat, lon, zoom), zoom, minZoom)

  /**
   * Bing-maps-style quadkey string of the grid cell containing (lat,
   * lon) at `zoom`: digit l (l = 1..zoom) = the level-l quadrant,
   * encoded ix-bit + 2·iy-bit ∈ {0,1,2,3} — so a tile's quadkey is its
   * parent's quadkey plus one digit, and `startswith(qk, parentQk)`
   * tests cell containment as a plain string prefix (the property that
   * makes quadkeys the layout-friendly sort key for tile stores: a RANGE
   * partition on quadkey co-locates whole subtrees, and a zoom-10 prefix
   * scan reads one contiguous key range). y grows north (our grid), not
   * Bing's screen-south — the digit algebra is identical.
   *
   * Pure Column algebra over the [[graft.functions.cell_id]] bits —
   * codegen'd builtins, no UDF; zoom is pinned at plan time so the
   * concat unrolls to `zoom` two-bit extracts.
   */
  def quadkey(lat: org.apache.spark.sql.Column, lon: org.apache.spark.sql.Column,
      zoom: Int): org.apache.spark.sql.Column = {
    require(zoom >= 1 && zoom <= 29, s"zoom $zoom out of [1, 29]")
    val cell = cell_id(lat, lon, zoom)
    val mask = (1L << 29) - 1
    val ix = shiftright(cell, 29).bitwiseAND(lit(mask))
    val iy = cell.bitwiseAND(lit(mask))
    val digits = (1 to zoom).map { l =>
      (shiftright(ix, zoom - l).bitwiseAND(lit(1L))
        + shiftright(iy, zoom - l).bitwiseAND(lit(1L)) * 2).cast("string")
    }
    concat(digits: _*)
  }

  /**
   * Vector tiles: (tile_id, zoom, features) where features = array of
   * (key, entity_idx, cell_id) structs sorted by (key, entity_idx) —
   * deterministic bytes for snapshot sinks (SURVEY §7.4-5).
   */
  def vector(entities: DataFrame, key: String, entityIdx: String,
      lat: String, lon: String, zoom: Int): DataFrame = {
    val rT = tileRes(zoom); val rP = payloadRes(zoom)
    entities
      .withColumn("cell_id", cell_id(col(lat), col(lon), rP))
      .where(col("cell_id").isNotNull) // a NULL or NaN coordinate has no cell
      .withColumn("tile_id", cell_parent(col("cell_id"), rT))
      .repartitionByRange(col("tile_id"))
      .groupBy("tile_id")
      .agg(array_sort(collect_list(struct(col(key), col(entityIdx), col("cell_id"))))
        .as("features"))
      .withColumn("zoom", lit(zoom))
      .select("tile_id", "zoom", "features")
  }
}
