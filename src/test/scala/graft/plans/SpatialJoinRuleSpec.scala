package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{point_in_polygon, SparkTestSession}
import graft.geo.Geometry
import graft.sources.Fixtures
import scala.jdk.CollectionConverters._

class SpatialJoinRuleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val pts = (0L until 300L).flatMap { i =>
    Fixtures.pageEntities(i).zipWithIndex.map { case (p, e) => (i, e, p.lat, p.lon) }
  }
  private lazy val polys = Fixtures.polygons(30)
  private lazy val ptsDf = pts.toDF("page_id", "entity_idx", "lat", "lon")
  private lazy val polysDf = ringsDf(polys)
  private def ringsDf(ps: Seq[Fixtures.Polygon]) = spark.createDataFrame(
    spark.sparkContext.parallelize(ps.map(p => org.apache.spark.sql.Row(p.polygon_id, p.ring)), 2),
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("polygon_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ring",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))))

  private lazy val want = (for {
    (pid, e, lat, lon) <- pts
    poly <- polys
    if Geometry.pointInPolygon(lon, lat, poly.ring)
  } yield (pid, e, poly.polygon_id)).toSet

  test("rule rewrites a naive PIP theta-join into the cell-blocked equi-join") {
    SpatialJoinRule.install(spark)
    try {
      val naive = ptsDf.join(polysDf, point_in_polygon($"lon", $"lat", $"ring"))
      val plan = naive.queryExecution.optimizedPlan.toString
      assert(plan.contains("cell_cover(") && plan.contains("__graft_cell"), plan)
      val phys = naive.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"), phys)
      val got = naive.select("page_id", "entity_idx", "polygon_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(got == want && want.nonEmpty)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    }
  }

  test("rewrite refines coastline rings through their own edge index") {
    // 256-vertex rings: the rewrite attaches the derived index on the
    // polygon side and the residual PIP reads it; rows equal brute force
    val coast = Fixtures.coastPolygons(30)
    val coastWant = (for {
      (pid, e, lat, lon) <- pts
      poly <- coast
      if Geometry.pointInPolygon(lon, lat, poly.ring)
    } yield (pid, e, poly.polygon_id)).toSet
    SpatialJoinRule.install(spark)
    try {
      val naive = ptsDf.join(ringsDf(coast), point_in_polygon($"lon", $"lat", $"ring"))
      val plan = naive.queryExecution.optimizedPlan.toString
      assert(plan.contains("polygon_y_index") && plan.contains("__graft_pidx"), plan)
      val got = naive.select("page_id", "entity_idx", "polygon_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(coastWant.nonEmpty && got == coastWant)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    }
  }

  test("without the rule the same query is a nested-loop join (the problem being solved)") {
    val naive = ptsDf.join(polysDf, point_in_polygon($"lon", $"lat", $"ring"))
    val phys = naive.queryExecution.executedPlan.toString
    assert(phys.contains("CartesianProduct") || phys.contains("BroadcastNestedLoopJoin"), phys)
    // row set identical either way (the rewrite is semantics-preserving)
    val got = naive.select("page_id", "entity_idx", "polygon_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == want)
  }

  test("composite conditions are left alone (rule fires only on pure PIP)") {
    SpatialJoinRule.install(spark)
    try {
      val mixed = ptsDf.join(polysDf,
        point_in_polygon($"lon", $"lat", $"ring") && $"page_id" =!= $"polygon_id")
      val plan = mixed.queryExecution.optimizedPlan.toString
      assert(!plan.contains("__graft_cell"), plan)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    }
  }

  test("GraftExtensions wires the rule AND the SQL functions at builder time") {
    // the deployment path: a session built with withExtensions (what
    // `--conf spark.sql.extensions=graft.plans.GraftExtensions` does
    // reflectively on spark-submit). Reuses the test SparkContext; the
    // extensions are per-SESSION, so the shared SparkTestSession session
    // must be cleared from the builder's view and restored after.
    val base = spark // materialize the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try {
      SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    assert(ext ne base) // a genuinely new session, not the cached one
    // SQL functions resolve with zero setup calls
    val cell = ext.sql("SELECT cell_id(52.52d, 13.405d, 8) AS c")
      .collect().head.getLong(0)
    assert(cell == graft.geo.CellIndex.latLonToCell(52.52, 13.405, 8))
    // function metadata carries the real expression class
    val desc = ext.sql("DESCRIBE FUNCTION cell_id").collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("CellIdExpr"), desc)
    val descIdx = ext.sql("DESCRIBE FUNCTION point_in_polygon_indexed").collect()
      .map(_.getString(0)).mkString("\n")
    assert(descIdx.contains("PointInPolygonExpr"), descIdx)
    // and the builders check the argument count
    val arity = intercept[org.apache.spark.sql.AnalysisException](ext.sql("SELECT cell_id(1d, 2d)"))
    assert(arity.getCondition.startsWith("WRONG_NUM_ARGS"), arity)
    // and the optimizer rule fires on a pure-SQL PIP theta-join (views
    // must live in ext's own catalog — temp views are per-session)
    ext.createDataFrame(ptsDf.collect().toSeq.asJava, ptsDf.schema)
      .createOrReplaceTempView("pts_v")
    ext.createDataFrame(polysDf.collect().toSeq.asJava, polysDf.schema)
      .createOrReplaceTempView("polys_v")
    val naive = ext.sql(
      """SELECT page_id, entity_idx, polygon_id FROM pts_v
        |JOIN polys_v ON point_in_polygon(lon, lat, ring)""".stripMargin)
    val phys = naive.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"), phys)
    val got = naive.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == want)
    // do NOT ext.stop(): the SparkContext is shared with every other suite
  }

  test("resolution is configurable and result-invariant") {
    SpatialJoinRule.install(spark)
    try {
      spark.conf.set(SpatialJoinRule.ResConfKey, "4")
      val got = ptsDf.join(polysDf, point_in_polygon($"lon", $"lat", $"ring"))
        .select("page_id", "entity_idx", "polygon_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(got == want)
      // a value that is not a resolution fails the query, naming the key
      for (bad <- Seq("abc", "30")) {
        spark.conf.set(SpatialJoinRule.ResConfKey, bad)
        val e = intercept[Exception] {
          ptsDf.join(polysDf, point_in_polygon($"lon", $"lat", $"ring")).collect()
        }
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains(SpatialJoinRule.ResConfKey) &&
          m.contains(s"'$bad'")), e)
      }
    } finally {
      spark.conf.unset(SpatialJoinRule.ResConfKey)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == SpatialJoinRule)
    }
  }
}
