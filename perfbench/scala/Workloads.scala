package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Fixtures

/** Expected values the checks compare against, computed without Spark. */
object Expected {
  private def f6(d: Double): Double =
    java.lang.Double.parseDouble("%.6f".formatLocal(java.util.Locale.ROOT, d))

  /** Distinct (lat, lon) of page i's entities as its html prints them. */
  def entities(i: Long): Seq[(Double, Double)] =
    Fixtures.pageEntities(i).map(p => (f6(p.lat), f6(p.lon))).distinct.sorted

  /** Page index from a fixture url (`.../<i>.html`). */
  def pageIndex(url: String): Long =
    url.substring(url.lastIndexOf('/') + 1, url.length - ".html".length).toLong

  /** Strict interior of a fixture diamond ring (|dx|/w + |dy|/h < 1). */
  def inDiamond(ring: Array[Double], x: Double, y: Double): Boolean = {
    val cx = ring(2); val cy = ring(1)
    val w = ring(0) - cx; val h = ring(3) - cy
    math.abs(x - cx) / w + math.abs(y - cy) / h < 1.0
  }
}

/** Read parquet → extract_geo → SpatialJoin (res 8, broadcast) and
 * Tiler.raster (zoom 6), both to a noop sink, over a seeded window of F1
 * pages (30% of them on the capital-city hot cell). */
final class Flagship(c: Ctx) extends Workload {
  val n = 100000L
  val polygons = 1024
  val offset: Long = (Fixtures.mix(c.seed) >>> 1) % 10000000L
  private val pagesPath = c.path("pages")
  private val polysPath = c.path("polygons")

  def sizes: Map[String, Any] =
    Map("pages" -> n, "page_offset" -> offset, "polygons" -> polygons,
      "join_res" -> 8, "tile_zoom" -> 6)
  def warmPasses: Int = 5
  def rates(wallS: Double): Map[String, Double] = Map("pages_per_s" -> n / wallS)

  def generate(): Unit = {
    val rows = c.spark.sparkContext.range(offset, offset + n, 1, 4 * c.nproc).map { i =>
      val p = Fixtures.page(i)
      Row(p.url, p.warc_ts, p.html, p.text, p.lang)
    }
    c.spark.createDataFrame(rows, Schema("url" -> StringType,
      "warc_ts" -> TimestampType, "html" -> BinaryType, "text" -> StringType,
      "lang" -> StringType)).write.mode("overwrite").parquet(pagesPath)
    Fixtures.polygonsDf(c.spark, polygons).write.mode("overwrite").parquet(polysPath)
  }

  private def pages = c.spark.read.parquet(pagesPath)
  private def polys = c.spark.read.parquet(polysPath).repartition(c.nproc)
  private def geo(df: DataFrame) = df.select(col("url"),
    graft.functions.extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
  private def join(ents: DataFrame) =
    graft.operators.SpatialJoin(ents, polys, col("lat"), col("lon"), col("ring"), res = 8)

  def pass(): Boolean = {
    val ents = geo(pages).persist()
    try {
      c.ops.op("extract_geo")(c.trace("functions", "extract_geo")(c.sink(ents))) &&
        c.ops.op("spatial_join")(c.trace("operators", "SpatialJoin")(c.sink(join(ents)))) &&
        c.ops.op("tiler")(c.trace("operators", "Tiler.raster")(
          c.sink(graft.operators.Tiler.raster(ents, "lat", "lon", zoom = 6))))
    } finally ents.unpersist(true)
  }

  def check(): Unit = {
    // one job: per url, the extracted text's bytes against the generated
    // text, and the distinct extracted entities against Fixtures
    val perUrl = pages.select(col("url"),
        (graft.functions.extract_text_bytes(col("html")) <=> encode(col("text"), "UTF-8"))
          .as("text_ok"),
        graft.functions.extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
      .groupBy("url")
      .agg(min(col("text_ok").cast("int")).as("text_ok"),
        collect_list(struct(col("lat"), col("lon"))).as("e"))
    var counts = (0L, 0L, 0L)
    val ran = c.ops.op("page checks") {
      counts = perUrl.rdd.map { r =>
        val got = r.getSeq[Row](2).map(e => (e.getDouble(0), e.getDouble(1))).distinct.sorted
        val entOk = got == Expected.entities(Expected.pageIndex(r.getString(0)))
        (1L, if (r.getInt(1) == 1) 0L else 1L, if (entOk) 0L else 1L)
      }.reduce((x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3))
    }
    if (ran) {
      c.ops.check("extract_text byte-identical per url")(counts._1 == n && counts._2 == 0)
      c.ops.check("entities per url equal Fixtures.pageEntities")(counts._3 == 0)
    }
    c.ops.check("spatial join equals brute-force PIP on a seeded sample") {
      val sample = geo(pages.where(pmod(xxhash64(col("url"), lit(c.seed)), lit(100)) === 0))
        .persist()
      try {
        val pts = sample.select("url", "entity_idx", "lat", "lon").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        val rings = Fixtures.polygons(polygons)
        val want = (for {
          (u, e, la, lo) <- pts.iterator
          p <- rings if Expected.inDiamond(p.ring, lo, la)
        } yield (u, e, p.polygon_id)).toSet
        val got = join(sample).select("url", "entity_idx", "polygon_id").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
        pts.nonEmpty && want.nonEmpty && got == want
      } finally sample.unpersist(true)
    }
  }

  def probePages: DataFrame = pages

  def layerMetrics(traced: Int): Map[String, Double] = Map(
    "operators.spatial_join_s" -> c.trace.totalOf("SpatialJoin") / traced,
    "operators.spatial_join_rows" -> join(geo(pages)).count().toDouble,
    "operators.tiler_s" -> c.trace.totalOf("Tiler.raster") / traced,
    "functions.extract_geo_pass_s" -> c.trace.totalOf("extract_geo") / traced)
}

/** The driver-bound slice of `SparkEntry.queries` over the sf0.1 tables
 * `graft.Bench` times (copied under perfbench/data/sf0.1), each to a noop
 * sink with its checkpoint blocks released inside the timed region. */
final class Catalog(c: Ctx) extends Workload {
  val queries = Seq("q124_snapshot_diff")
  /** The tables the queries and probes read, with the key their row order
   * is drawn by. */
  val tables = Seq("documents" -> "doc_id", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "nation" -> "n_nationkey")
  private val dir = c.path("catalog")
  private var rows = Map.empty[String, Long]

  def sizes: Map[String, Any] = Map("queries" -> queries, "source" -> Catalog.Source,
    "rows" -> rows)
  def warmPasses: Int = 4
  def rates(wallS: Double): Map[String, Double] = Map.empty

  /** Each table copied unchanged into one file, its rows ordered by a
   * seeded hash of its key. */
  def generate(): Unit = tables.foreach { case (t, key) =>
    val path = s"$dir/$t.parquet"
    c.spark.read.parquet(s"${Catalog.Source}/$t.parquet").coalesce(1)
      .sortWithinPartitions(xxhash64(col(key), lit(c.seed)), col(key))
      .write.mode("overwrite").parquet(path)
    rows += t -> c.spark.read.parquet(path).count()
  }

  private def query(name: String): DataFrame = graft.SparkEntry.queries(name)(c.spark, dir)

  def pass(): Boolean = queries.forall { q =>
    c.ops.op(q)(c.trace("SparkEntry", q) {
      var df: DataFrame = null
      try {
        df = c.trace("SparkEntry", s"$q.build")(query(q))
        c.trace("SparkEntry", s"$q.run")(c.sink(df))
      } finally if (df != null) c.release(df)
    })
  }

  /** Writes each query's output and its oracle SQL; the DuckDB comparison
   * runs after the JVM exits (perfbench/oracle.py). */
  def check(): Unit = {
    val outDir = c.path("check")
    queries.foreach { q =>
      c.ops.op(s"$q output") {
        var df: DataFrame = null
        try {
          df = query(q)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
        } finally if (df != null) c.release(df)
      }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracle))
  }

  def probePages: DataFrame = Fixtures.pages(c.spark, 20000, 4 * c.nproc).toDF()

  /** Direct calls into the snapshot layer, shaped like q105/q124. */
  private def snapProbe(): Map[String, Double] = {
    import graft.snap.SnapshotCatalog
    val root = c.path("snap-probe")
    val wave = pmod(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
      .cast("long"), lit(4))
    val src = c.spark.read.parquet(s"$dir/orders.parquet")
    val commitS = Main.timed(SnapshotCatalog.resumableRunBy(c.spark, src, wave, 4, root, "ords") {
      df => df.select(col("o_orderkey"), col("o_custkey").cast("string").as("content"))
    })
    val cur = SnapshotCatalog.currentManifest(root, "ords").get
    val diffS = Main.timed {
      val d = SnapshotCatalog.diffSnapshots(c.spark, root, "ords", cur.parentId,
        cur.snapshotId, "o_orderkey", "content")
      c.sink(d); c.release(d)
    }
    val compactS = Main.timed(SnapshotCatalog.compact(c.spark, root, "ords",
      targetFiles = 2, sortBy = Seq("o_orderkey")))
    val mb = Main.dirBytes(Paths.get(root)) / 1048576.0
    Map("snap.commit_s" -> commitS, "snap.diff_s" -> diffS, "snap.compact_s" -> compactS,
      "snap.bytes_written_mb" -> mb)
  }

  /** Operators whose queries (with their DuckDB oracles) are too slow for
   * every run: timed once each after one untimed call. */
  private val probeQueries = Seq("components" -> "q57_dedup_components",
    "curate" -> "q119_curation_pipeline",
    "pagerank" -> "q104_pagerank_resumable", "knn" -> "q24_knn")

  def layerMetrics(traced: Int): Map[String, Double] = {
    val perQuery = queries.flatMap { q =>
      Seq(s"catalog.$q.build_s" -> c.trace.totalOf(s"$q.build") / traced,
        s"catalog.$q.run_s" -> c.trace.totalOf(s"$q.run") / traced)
    }
    val probed = probeQueries.map { case (m, q) =>
      def once(): Unit = {
        val df = query(q)
        try c.sink(df) finally c.release(df)
      }
      once()
      s"operators.${m}_s" -> Main.timed(once())
    }
    (perQuery ++ probed).toMap ++ snapProbe()
  }
}

object Catalog {
  val Source: String = Paths.get("perfbench", "data", "sf0.1").toAbsolutePath.toString
}

/** A nullable-field schema from (name, type) pairs. */
object Schema {
  def apply(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
}
