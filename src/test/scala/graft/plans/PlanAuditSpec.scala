package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.operators.JobCount

/**
 * Plan-shape audit: the properties the engine relies on for 100 TB —
 * scan-level filter pushdown, column pruning, broadcast join selection,
 * map-side partial aggregation — asserted against executed plans so a
 * regression (e.g. a non-pushable expression creeping into a filter)
 * fails loudly instead of silently scanning everything.
 */
class PlanAuditSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
  private lazy val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

  private def executed(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // run so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("filters reach the parquet scan (PushedFilters)") {
    val plan = executed(docs.where(col("source").startsWith("src1")).select("doc_id", "source"))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("StringStartsWith(source,src1)"), plan)
  }

  test("column pruning reaches the scan (ReadSchema)") {
    val plan = executed(docs.select("doc_id", "lang"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang"))
    assert(!readSchema.contains("text"), s"text must be pruned from the scan: $readSchema")
  }

  test("small dimension side broadcasts (BroadcastHashJoin, no shuffle of the big side)") {
    val plan = executed(
      orders.join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").count())
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"))
  }

  test("aggregation is partial+final (map-side combine before the exchange)") {
    val df = docs.groupBy("lang").count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), plan)
    // the only exchange is the partial-agg output keyed by the group key
    // (AQE prints the plan twice — initial and final — hence per-section)
    val finalSection = plan.split("== Final Plan ==").last.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning\\(lang".r.findAllIn(finalSection).size == 1, finalSection)
  }

  test("symbols/dependencies run ONE parse generator per page (multi-spec)") {
    // 4 specs (symbols) / 2 specs (dependencies) must NOT mean 4/2 parses:
    // the comma-joined spec list runs every template over one parse, so
    // exactly one Generate node appears in the plan (the former per-spec
    // union had one per spec — a 4x of the dominant pipeline stage)
    val pages = graft.sources.PagesFromDocs(docs)
    Seq(graft.api.Engine.symbols(pages), graft.api.Engine.dependencies(pages)).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val finalSection = plan.split("== Final Plan ==").last.split("== Initial Plan ==").head
      assert("(?i)generate".r.findAllIn(finalSection).size == 1, finalSection)
    }
  }

  test("summarizeNodes carries html through the generator — no join") {
    // the former shape re-joined pages to re-attach html, re-shuffling
    // every page's full bytes once per node row
    val df = graft.api.Engine.summarizeNodes(graft.sources.PagesFromDocs(docs))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan.linesIterator.take(8).mkString("\n"))
  }

  test("kNN k=1 round aggregate fuses into whole-stage codegen (HashAggregate)") {
    // the declarative MaxScoreMinKey buffer is fixed-width, so the
    // partial aggregation must plan as HashAggregate (fusible), not
    // ObjectHashAggregate (whose span boundary copies every candidate)
    val pts = customer.limit(500).select(col("c_custkey").as("qk"),
      (((col("c_custkey") * 7919) % 17000 - 8500).cast("double") / 100.0).as("lat"),
      (((col("c_custkey") * 104729) % 36000 - 18000).cast("double") / 100.0).as("lon"))
    val tgts = customer.limit(200).select(col("c_custkey").as("tk"),
      (((col("c_custkey") * 104729) % 16000 - 8000).cast("double") / 100.0).as("tlat"),
      (((col("c_custkey") * 7919) % 35000 - 17500).cast("double") / 100.0).as("tlon"))
    val df = graft.operators.Knn(pts, "qk", "lat", "lon", tgts, "tk", "tlat", "tlon",
      k = 1, res = 4)
    // the per-round plans are consumed by the loop's checkpoints; audit
    // the same aggregate shape directly instead
    df.count()
    val agg = pts.limit(100)
      .select(col("qk").as("__qkey"), lit(-1.0).as("__score"), col("qk").as("__tk64"))
      .groupBy("__qkey")
      .agg(graft.operators.TopKByScore.best(col("__score"), col("__tk64")).as("__new"))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"), plan)
  }

  test("q116 crawl front door: equi-joins only, no window over the capture table") {
    // the composite chains canonical → revisit collapse → robots gate →
    // delay → sitemap flag; the scale contract is that every join is an
    // equi-join (no cartesian/nested-loop blowup across pages) and the
    // only Window nodes are the per-host robots LINE-grouping pass
    // (partitioned by host, ordered by line pos — bounded by robots.txt
    // size), never one over the full capture table
    val df = graft.SparkEntry.queries("q116_crawl_front_door")(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(12).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(12).mkString("\n"))
    val windows = plan.linesIterator.filter(_.trim.startsWith("Window")).toSeq
    assert(windows.forall(w => w.contains("pos") && w.contains("host")),
      s"unexpected window over non-robots input:\n${windows.mkString("\n")}")
  }

  test("q119 curation pipeline: equi-joins only — no cartesian across any stage pair") {
    // seven chained stages; the contract is that stage composition adds
    // only key-equi semi/anti joins (doc text crosses the wire exactly
    // where the standalone operator already shipped it) and the gram
    // probe broadcasts the benchmark side
    val df = graft.SparkEntry.queries("q119_curation_pipeline")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.length > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(12).mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(12).mkString("\n"))
    // the input fixture (500 docs + 10 copies) comes back in full, each
    // doc labeled exactly once
    assert(rows.length == 510, s"expected 510 disposition rows, got ${rows.length}")
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("q120 pyramid: points scanned once — coarser levels derive from pixel rows") {
    val df = graft.SparkEntry.queries("q120_tile_pyramid")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val finalSection = plan.split("== Final Plan ==").last.split("== Initial Plan ==").head
    // exactly ONE parquet scan of customer feeds the whole 4-level pyramid
    val scans = finalSection.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 point scan, got $scans:\n$finalSection")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q124 snapshot diff: one hash exchange, no checkpointed or cached scan") {
    // the diff is one grouped symmetric difference; the former shape
    // checkpointed each side's distinct set and ran two anti-joins
    val df = graft.SparkEntry.queries("q124_snapshot_diff")(spark, "/root/testdata/sf0.001")
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    val finalSection = plan.split("== Final Plan ==").last.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalSection).size == 1, finalSection)
    Seq("LogicalRDD", "Scan ExistingRDD", "InMemoryTableScan").foreach { node =>
      assert(!plan.contains(node) && !df.queryExecution.optimizedPlan.toString.contains(node),
        s"$node in the diff plan:\n$plan")
    }
  }

  test("q124 snapshot diff: 3 jobs per call (one write for both waves)") {
    // the single-pass write commits both waves; the diff is a shuffle
    // stage and the sink; no read starts a schema-inference job
    for (_ <- 0 until 2) {
      val (_, jobs) = JobCount(spark) {
        val df = graft.SparkEntry.queries("q124_snapshot_diff")(spark, "/root/testdata/sf0.001")
        try df.write.format("noop").mode("overwrite").save()
        finally org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
      }
      assert(jobs == 3)
    }
  }

  test("table reads start no job and take the schema inference gives") {
    // the sf tables are DuckDB-written files; the copy is a Spark-written
    // directory named *.parquet (several part files, _SUCCESS, .crc files)
    val sf = "/root/testdata/sf0.001"
    val sparkDir = tempDir("graft_tbl")
    orders.repartition(3).write.parquet(s"$sparkDir/orders.parquet")
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map(sf -> _) :+ (sparkDir -> "orders")
    for ((dir, name) <- tables) {
      val path = s"$dir/$name.parquet"
      val inferred = spark.read.parquet(path)
      for ((read, f) <- Seq[(String, (SparkSession, String, String) => DataFrame)](
          "tbl" -> (graft.SparkEntry.tbl _), "tblRaw" -> (graft.SparkEntry.tblRaw _))) {
        val (df, jobs) = JobCount(spark)(f(spark, dir, name))
        assert(jobs == 0, s"$read $path")
        assert(df.schema == inferred.schema, s"$read $path")
        assert(df.count() == inferred.count(), s"$read $path")
      }
    }
  }

  test("scalar cell expressions stay inside whole-stage codegen") {
    val df = customer.select(graft.functions.cell_id(
      (col("c_custkey") % 180 - 90).cast("double"),
      (col("c_custkey") % 360 - 180).cast("double"), 8).as("c"))
    df.collect()
    // fused operators print with a "*(<stage>)" codegen prefix
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")), plan)
  }

  test("the md5-prefix kernel stays inside whole-stage codegen") {
    val df = orders.select(
      graft.operators.Sketches.portableHash52(col("o_orderkey").cast("string")).as("h"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Project") && l.contains("md5_prefix")), plan)
  }
}
