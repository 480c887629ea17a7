package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.geo.CellIndex

class SpatialLayoutSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val res = 6
  // deterministic scattered points, same derivation family as the bench
  private lazy val points = spark.range(0, 5000).select(
    col("id"),
    ((pmod(col("id") * 7919, lit(17000)) - 8500).cast("double") / 100.0).as("lat"),
    ((pmod(col("id") * 104729, lit(36000)) - 18000).cast("double") / 100.0).as("lon"))

  private def freshLayout(): String = {
    val root = tempDir("graft_layout")
    SpatialLayout.writeClustered(points, "lat", "lon", res, root, partitions = 8)
    root
  }

  test("clustered files cover narrow, non-overlapping cell ranges") {
    val root = freshLayout()
    val files = new java.io.File(root).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length > 1, "need multiple files to demonstrate disjointness")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min("cell_id"), max("cell_id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // range partitioning ⇒ sorted files touch at most at equal boundary ids
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
    // narrow: the id span of one file ≪ the global span (clustering did
    // something — unsorted writes give every file ~the global span)
    val globalSpan = ranges.map(_._2).max - ranges.map(_._1).min
    val maxFileSpan = ranges.map { case (a, b) => b - a }.max
    assert(maxFileSpan.toDouble <= globalSpan.toDouble / 2,
      s"file span $maxFileSpan vs global $globalSpan — not clustered")
  }

  test("readBBox equals the brute bbox filter, and metadata round-trips") {
    val root = freshLayout()
    val m = SpatialLayout.meta(spark, root)
    assert(m == SpatialLayout.Meta("lat", "lon", res))
    val got = SpatialLayout.readBBox(spark, root, -20.0, 35.0, -40.0, 70.0)
      .select("id").as[Long].collect().sorted
    val want = points
      .where(col("lat") >= -20.0 && col("lat") <= 35.0 &&
        col("lon") >= -40.0 && col("lon") <= 70.0)
      .select("id").as[Long].collect().sorted
    assert(got.sameElements(want))
    assert(got.nonEmpty)
  }

  test("narrow bbox prunes via pushed per-strip cell ranges") {
    val root = freshLayout()
    val df = SpatialLayout.readBBox(spark, root, 10.0, 12.0, 20.0, 25.0)
    df.collect() // force planning + execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(cell_id") || plan.contains("cell_id"),
      "cell range not pushed to the scan:\n" + plan.take(2000))
    // cross-check the strip math: every returned cell_id is inside one
    // of the per-ix ranges the bbox implies
    val lo = CellIndex.latLonToCell(10.0, 20.0, res)
    val hi = CellIndex.latLonToCell(12.0, 25.0, res)
    val cells = df.select("cell_id").as[Long].collect()
    cells.foreach { c =>
      assert(CellIndex.ix(c) >= CellIndex.ix(lo) && CellIndex.ix(c) <= CellIndex.ix(hi))
      assert(CellIndex.iy(c) >= CellIndex.iy(lo) && CellIndex.iy(c) <= CellIndex.iy(hi))
    }
  }

  test("readCells merges contiguous ids into pushed ranges, exact membership") {
    val root = freshLayout()
    // a polygon-cover-like set: two iy-runs inside one ix strip + a loner
    val base = CellIndex.latLonToCell(10.0, 20.0, res)
    val cells = Seq(base, base + 1, base + 2, base + 10, base + 11,
      CellIndex.latLonToCell(-50.0, -120.0, res))
    val got = SpatialLayout.readCells(spark, root, cells)
    val gotCells = got.select("cell_id").as[Long].collect().toSet
    assert(gotCells.subsetOf(cells.toSet))
    // exact membership == brute isin over the full scan
    val want = SpatialLayout.read(spark, root)
      .where(col("cell_id").isin(cells: _*)).select("id").as[Long].collect().sorted
    assert(got.select("id").as[Long].collect().sorted.sameElements(want))
  }

  test("joinPolygons over the layout equals the full-scan SpatialJoin") {
    val root = freshLayout()
    val polys = graft.sources.Fixtures.polygonsDf(spark, 12)
    val pruned = SpatialLayout.joinPolygons(spark, root, polys, col("ring"))
      .select("id", "polygon_id").as[(Long, Long)].collect().sorted
    val full = SpatialJoin(SpatialLayout.read(spark, root), polys,
        col("lat"), col("lon"), col("ring"), res)
      .select("id", "polygon_id").as[(Long, Long)].collect().sorted
    assert(pruned.sameElements(full))
    assert(pruned.nonEmpty)
  }

  test("wide bbox falls back to the single covering range, still exact") {
    val root = freshLayout()
    // maxRanges = 1 forces the fallback regardless of strip count
    val got = SpatialLayout.readBBox(spark, root, -60.0, 60.0, -170.0, 170.0, maxRanges = 1)
      .select("id").as[Long].collect().sorted
    val want = points
      .where(col("lat") >= -60.0 && col("lat") <= 60.0 &&
        col("lon") >= -170.0 && col("lon") <= 170.0)
      .select("id").as[Long].collect().sorted
    assert(got.sameElements(want))
  }
}
