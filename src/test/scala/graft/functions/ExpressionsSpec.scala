package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.geo.CellIndex
import graft.parse.Extractor

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class ExpressionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val page1 = ("""<html><head><title>One</title>
      |<meta name="geo.position" content="52.52;13.405"></head>
      |<body><h1>Hello</h1><a href="geo:48.85,2.35">p</a>
      |<a href="x.html">link</a><p>text &amp; more</p></body></html>""".stripMargin).getBytes("UTF-8")

  /** Spark's UNEXPECTED_INPUT_TYPE text for a STRING column `s` given to a BINARY parameter. */
  private val StringArgText =
    """The first parameter requires the "BINARY" type, however "s" has the type "STRING""""

  test("cell_id matches the pure kernel and survives codegen") {
    val df = Seq((52.52, 13.405), (-33.86, 151.2), (0.0, 0.0))
      .toDF("lat", "lon")
      .withColumn("cell", cell_id($"lat", $"lon", 12))
    val got = df.select("cell").as[Long].collect().toSeq
    val want = Seq(
      CellIndex.latLonToCell(52.52, 13.405, 12),
      CellIndex.latLonToCell(-33.86, 151.2, 12),
      CellIndex.latLonToCell(0.0, 0.0, 12))
    assert(got == want)
    // stays inside whole-stage codegen over a real (non-local) source —
    // scale requirement, SURVEY §7.3
    val rangeDf = spark.range(1000)
      .withColumn("lat", $"id" % 170 - 85.0)
      .withColumn("lon", $"id" % 360 - 180.0)
      .withColumn("cell", cell_id($"lat", $"lon", 12))
    // "*(1)" prefixes = operators fused into WholeStageCodegen stage 1
    val plan = rangeDf.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cell_id("), plan)
    val sample = rangeDf.where($"id" === 999).select("cell").as[Long].head()
    assert(sample == CellIndex.latLonToCell(999 % 170 - 85.0, 999 % 360 - 180.0, 12))
    // the resolution bounds: 0 and MaxRes encode; a literal res outside
    // them fails analysis, for cell_id and cell_cover, Column and SQL form
    // alike (encoded, res 30 spills into the res field, 64 maps every
    // point to cell 0 and -1 to -1)
    for (r <- Seq(0, CellIndex.MaxRes))
      assert(df.select(cell_id($"lat", $"lon", r)).as[Long].head() ==
        CellIndex.latLonToCell(52.52, 13.405, r))
    graft.functions.registerAll(spark)
    val ring = Seq(Seq(10.0, 10.0, 10.1, 10.0, 10.1, 10.1)).toDF("ring")
    for (r <- Seq(30, 64, -1)) {
      val errs = Seq(
        intercept[org.apache.spark.sql.AnalysisException] {
          df.select(cell_id($"lat", $"lon", r)).collect() },
        intercept[org.apache.spark.sql.AnalysisException] {
          spark.sql(s"SELECT cell_id(CAST(10 AS DOUBLE), CAST(179.99 AS DOUBLE), $r)").collect() },
        intercept[org.apache.spark.sql.AnalysisException] {
          ring.select(cell_cover($"ring", r)).collect() })
      errs.foreach(e => assert(e.getMessage.contains(s"res must be in [0, ${CellIndex.MaxRes}], got $r"), e))
    }
  }

  test("cell_id of a NaN coordinate is NULL; infinities clamp, in SQL and Column form") {
    graft.functions.registerAll(spark)
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    val inputs = Seq((nan, 10.0), (10.0, nan), (nan, nan), (inf, 10.0), (10.0, -inf), (10.0, 20.0))
    val want: Seq[Option[Long]] = Seq(None, None, None,
      Some(CellIndex.latLonToCell(90.0, 10.0, 12)), Some(CellIndex.latLonToCell(10.0, -180.0, 12)),
      Some(CellIndex.latLonToCell(10.0, 20.0, 12)))
    val df = inputs.toDF("lat", "lon")
    // RDD-backed so the projection runs in generated code, not folded
    val viaRdd = spark.createDataFrame(df.rdd, df.schema)
    val col = viaRdd.select(cell_id($"lat", $"lon", 12).as("c"))
    assert(col.queryExecution.executedPlan.toString.contains("*(1) Project"))
    assert(col.as[Option[Long]].collect().toSeq == want)
    viaRdd.createOrReplaceTempView("nan_points")
    assert(spark.sql("SELECT cell_id(lat, lon, 12) AS c FROM nan_points")
      .as[Option[Long]].collect().toSeq == want)
    // folded literals and the interpreted path agree
    assert(spark.sql("SELECT cell_id(CAST('NaN' AS DOUBLE), CAST(1 AS DOUBLE), 12)")
      .head().isNullAt(0))
  }

  test("cell_parent/cell_center round trip in SQL and Column form") {
    graft.functions.registerAll(spark)
    val row = spark.sql(
      "SELECT cell_parent(cell_id(CAST(52.52 AS DOUBLE), CAST(13.405 AS DOUBLE), 12), 5) AS p," +
        " cell_center_lat(cell_id(CAST(52.52 AS DOUBLE), CAST(13.405 AS DOUBLE), 12)) AS cla")
      .collect().head
    assert(row.getLong(0) == CellIndex.latLonToCell(52.52, 13.405, 5))
    assert(math.abs(row.getDouble(1) - 52.52) < 0.05)
    val cell = CellIndex.latLonToCell(52.52, 13.405, 12)
    val centers = Seq(cell).toDF("c")
      .select(cell_center_lat($"c"), cell_center_lon($"c")).as[(Double, Double)].head()
    assert(centers == ((CellIndex.centerLat(cell), CellIndex.centerLon(cell))))
    assert(math.abs(centers._2 - 13.405) < 0.05)
  }

  test("point_in_polygon over array<double> rings") {
    val diamond = Array(9.0, 5.0, 5.0, 9.0, 1.0, 5.0, 5.0, 1.0)
    val df = Seq((5.0, 5.0), (8.5, 8.5)).toDF("x", "y")
      .withColumn("ring", typedLit(diamond))
      .withColumn("in", point_in_polygon($"x", $"y", $"ring"))
    assert(df.select("in").as[Boolean].collect().toSeq == Seq(true, false))
    // generated code (an RDD-backed frame is not folded into a local
    // relation): a NULL index scans every edge, an index only its band,
    // and only a NULL point or ring makes the result NULL
    val noIdx = lit(null).cast("array<double>")
    val got = spark.sparkContext.parallelize(Seq((5.0, 5.0), (8.5, 8.5)), 2).toDF("x", "y")
      .withColumn("ring", typedLit(diamond))
      .select(
        point_in_polygon_indexed($"x", $"y", $"ring", noIdx),
        point_in_polygon_indexed($"x", $"y", $"ring", polygon_y_index($"ring", 2)),
        point_in_polygon($"x", $"y", noIdx).isNull)
      .as[(Boolean, Boolean, Boolean)].collect().toSeq
    assert(got == Seq((true, true, true), (false, false, true)))
  }

  test("extract_text byte identity through Catalyst (invalid UTF-8 survives)") {
    val bad = "<p>ok".getBytes("UTF-8") ++ Array[Byte](-1, -2) ++ "rest</p>".getBytes("UTF-8")
    val df = Seq(Tuple1(bad)).toDF("html")
      .select(extract_text_bytes($"html").as("t"), extract_text($"html").as("s"))
    val (tBytes, sStr) = df.as[(Array[Byte], String)].collect().head
    assert(tBytes.sameElements(Extractor.extractTextBytes(bad))) // byte-identical
    assert(sStr == "ok��rest")
  }

  test("parse_html_nodes generator emits the flattened node table") {
    val df = Seq(Tuple1(page1)).toDF("html")
      .select(parse_html_nodes($"html").as(Seq(
        "node_id", "parent_id", "depth", "kind", "name", "attrs",
        "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
        "path", "children_count")))
    val names = df.where($"kind" === "element").select("name").as[String].collect()
    assert(names.count(_ == "a") == 2)
    assert(names.contains("h1") && names.contains("meta"))
    // positions are within document bounds and parent ids resolve
    val ids = df.select("node_id").as[Long].collect().toSet
    val parents = df.where($"depth" > 0).select("parent_id").as[Long].collect().toSet
    assert(parents.subsetOf(ids))
  }

  test("node path column is consistent with parent_id and depth") {
    val df = Seq(Tuple1(page1)).toDF("html")
      .select(parse_html_nodes($"html").as(Seq(
        "node_id", "parent_id", "depth", "kind", "name", "attrs",
        "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
        "path", "children_count")))
    val rows = df.select("node_id", "parent_id", "depth", "kind", "name", "path")
      .as[(Long, Long, Int, String, String, Seq[String])].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    rows.foreach { case (_, parentId, depth, kind, name, path) =>
      assert(path.size == depth + 1, s"path len vs depth: $path / $depth")
      val self = if (kind == "element") name else kind
      assert(path.last == self)
      if (parentId != -1L) {
        val p = byId(parentId)
        assert(path.init == p._6, s"parent path mismatch: $path vs ${p._6}")
      } else assert(path == Seq("document"))
    }
  }

  test("extract_captures generator with plan-time spec validation") {
    val df = Seq(Tuple1(page1)).toDF("html")
    val caps = df.select(extract_captures($"html", "links").as(Seq(
      "capture", "text", "sb", "eb", "sr", "sc", "er", "ec")))
      .select("capture", "text").as[(String, String)].collect().toSeq
    assert(caps.contains(("link.href", "geo:48.85,2.35")))
    assert(caps.contains(("link.href", "x.html")))
    val err = intercept[Exception] {
      df.select(extract_captures($"html", "bogus")).collect()
    }
    assert(err.getMessage.contains("bogus") || err.getCause != null)
  }

  test("page-side functions over a STRING html column fail analysis, not the task") {
    graft.functions.registerAll(spark)
    Seq(("<p>x</p>", page1)).toDF("s", "b").createOrReplaceTempView("html_src")
    // (call, the expression the message names): extract_text decodes
    // extract_text_bytes, the expression that reads the html
    for ((fn, named) <- Seq("extract_text(s)" -> "extract_text_bytes", "extract_text_bytes(s)" -> "extract_text_bytes",
        "extract_geo(s)" -> "extract_geo", "parse_html_nodes(s)" -> "parse_html_nodes",
        "extract_captures(s, 'links')" -> "extract_captures")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $fn FROM html_src"))
      Seq(s"$named(s", StringArgText).foreach(t => assert(e.getMessage.contains(t), s"$fn: $e"))
    }
    // the BINARY column passes
    assert(spark.sql("SELECT extract_geo(b) FROM html_src").count() == 2)
  }

  test("utf8_decode_replace over a STRING column fails analysis and names the function") {
    graft.functions.registerAll(spark)
    val src = Seq(("caf\u00e9", "caf\u00e9".getBytes("UTF-8"))).toDF("s", "b")
    src.createOrReplaceTempView("utf8_src")
    // run, so an unchecked argument shows as the task's ClassCastException
    val errs = Seq(
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql("SELECT utf8_decode_replace(s) FROM utf8_src").collect()),
      intercept[org.apache.spark.sql.AnalysisException](
        src.select(utf8_decode_replace($"s")).collect()))
    errs.foreach(e => Seq("utf8_decode_replace(s", StringArgText)
      .foreach(t => assert(e.getMessage.contains(t), e)))
    // the BINARY column passes
    assert(spark.sql("SELECT utf8_decode_replace(b) FROM utf8_src").as[String].collect()
      .toSeq == Seq("caf\u00e9"))
  }

  test("an unknown extraction spec fails analysis, even over an empty input") {
    graft.functions.registerAll(spark)
    val empty = Seq.empty[Array[Byte]].toDF("html")
    for (spec <- Seq("nope", "links,nope", " , ")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        empty.select(extract_captures($"html", spec)))
      assert(e.getMessage.contains(Extractor.SpecNames.mkString(", ")), s"$spec: $e")
    }
    empty.createOrReplaceTempView("empty_html")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT extract_captures(html, 'nope') FROM empty_html"))
    assert(e.getMessage.contains("unknown extraction spec 'nope'"), e)
  }

  test("a column-valued extraction spec fails analysis") {
    graft.functions.registerAll(spark)
    Seq((page1, "links")).toDF("html", "spec").createOrReplaceTempView("spec_src")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT extract_captures(html, spec) FROM spec_src"))
    assert(e.getMessage.contains("spec must be a constant STRING"), e)
  }

  test("extract_geo generator") {
    val rows = Seq(Tuple1(page1)).toDF("html")
      .select(extract_geo($"html").as(Seq("entity_idx", "source", "lat", "lon")))
      .as[(Int, String, Double, Double)].collect().toSeq
    assert(rows == Seq((0, "meta", 52.52, 13.405), (1, "uri", 48.85, 2.35)))
  }

  test("cell_ring generator fan-out") {
    val c = CellIndex.latLonToCell(10, 10, 8)
    val rings = Seq(Tuple1(c)).toDF("cell")
      .select(cell_ring($"cell", lit(1)).as("rc"))
      .as[Long].collect().toSeq
    assert(rings.length == 8)
    assert(rings == CellIndex.ring(c, 1).toSeq)
    // SQL form: built-in explode over the band [k, k], column `col`
    Seq(Tuple1(c)).toDF("cell").createOrReplaceTempView("ring_src")
    graft.functions.registerAll(spark)
    val sqlRings = spark.sql("SELECT cell_ring(cell, 2) FROM ring_src")
    assert(sqlRings.columns.toSeq == Seq("col"))
    assert(sqlRings.as[Long].collect().toSeq == CellIndex.ring(c, 2).toSeq)
  }

  test("null inputs produce null/empty, not crashes") {
    val df = Seq((Some(1.0), Some(2.0)), (None, Some(3.0))).toDF("lat", "lon")
      .withColumn("cell", cell_id($"lat", $"lon", 8))
    assert(df.where($"cell".isNull).count() == 1)
    val empty = spark.sql("SELECT CAST(NULL AS BINARY) AS html")
      .select(extract_geo(col("html")))
    assert(empty.count() == 0)
  }
}
