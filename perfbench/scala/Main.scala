package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Counts operations and their failures. An operation that throws, or a
 * check that returns false, is one failed operation. */
final class Ops {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  private def fail(label: String, why: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += s"$label: $why"
    System.err.println(s"[perfbench] FAILED $label: $why")
  }

  /** Runs one operation; false when it threw. */
  def op(label: String)(body: => Unit): Boolean = {
    attempted += 1
    try { body; true }
    catch { case e: Exception => fail(label, e.toString); false }
  }

  /** Runs one correctness check; false when it threw or did not hold. */
  def check(label: String)(cond: => Boolean): Boolean = {
    attempted += 1
    try { val ok = cond; if (!ok) fail(label, "output check failed"); ok }
    catch { case e: Exception => fail(label, e.toString); false }
  }
}

/** What every workload shares: the session, the seed, the op counter,
 * the span recorder and the run-local work directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val nproc: Int,
    val work: Path, val ops: Ops, val trace: Tracer) {
  def path(name: String): String = work.resolve(name).toString

  /** Consumes every column of `df` without collecting it. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
}

trait Workload {
  def sizes: Map[String, Any]
  /** Untimed passes after the checks, before the timed region: enough
   * for the pass times to stop falling (see the run record's `warm_s`). */
  def warmPasses: Int
  /** Throughput figures for the run record, from the median pass time. */
  def rates(wallS: Double): Map[String, Double]
  /** Writes the seeded inputs into the work directory. */
  def generate(): Unit
  /** One pass; false when any of its operations failed. */
  def pass(): Boolean
  /** Output checks, run once outside the timed region. */
  def check(): Unit
  /** Input for the `functions.*` stage probes: a pages frame. */
  def probePages: DataFrame
  /** Workload-specific per-layer metrics, measured after the traced passes. */
  def layerMetrics(traced: Int): Map[String, Double]
}

object Main {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.toList finally s.close()
    }

  /** Deletes `root` and returns the bytes it held. The snapshot queries
   * never delete what they write under it, so each pass's output is
   * removed after the pass, outside the timing, before it is old enough
   * for the kernel to write it back to disk. */
  def clear(root: Path): Long = {
    val bytes = dirBytes(root)
    files(root).reverse.foreach(Files.deleteIfExists)
    bytes
  }

  /** Forces the files set-up wrote (inputs, check outputs) to disk, so
   * their writeback happens in set-up and not in the timed region.
   * `spark-local` is left out: Spark deletes its shuffle and block files
   * while the walk would run, and the GC before each pass lets it drop
   * them before they are old enough to be written back. */
  private def flush(work: Path): Unit = {
    val top = { val s = Files.list(work); try s.iterator.asScala.toList finally s.close() }
    top.filterNot(_.getFileName.toString == "spark-local").flatMap(files)
      .filter(Files.isRegularFile(_)).foreach { p =>
        val ch = java.nio.channels.FileChannel.open(p, java.nio.file.StandardOpenOption.WRITE)
        try ch.force(true) finally ch.close()
      }
  }

  private def session(nproc: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the settings graft.Bench and graft.BenchPipeline time the engine with
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "50000000")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "131072")
      // run-local scratch: shuffle files and snapshot output land here and
      // are deleted with the run
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      // the status store keeps every finished job and query execution even
      // without a UI; bounding it keeps live_heap_mb independent of how many
      // passes fit into the timed region
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees the
   * blocks of collected RDDs only after a GC has found them, so collect
   * until the figure stops falling. */
  private def liveHeapAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used = { mem.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used
    var i = 0
    var settled = false
    while (!settled && i < 10) {
      Thread.sleep(200)
      val now = used
      settled = now > last * 0.99
      last = math.min(last, now)
      i += 1
    }
    last
  }

  /** Starts every pass from the same heap: a full GC, then a pause in which
   * Spark's ContextCleaner drops the previous pass's blocks, shuffles and
   * broadcasts. Otherwise old-generation collections and clean-up work
   * land in whichever pass happens to trigger them. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(100)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tracer = new Tracer
    val ops = new Ops
    val spark = session(nproc, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, seed, nproc, work, ops, tracer)
    val w: Workload = workload match {
      case "flagship" => new Flagship(ctx)
      case "catalog" => new Catalog(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val probe = new SchedulerProbe
    if (traced) spark.sparkContext.addSparkListener(probe)

    // ---- set-up: inputs, output checks, warm-up until passes converge ----
    val genS = timed(w.generate())
    // the checks run first: they take the same code paths as a pass, so
    // they also take the cold-JIT hit the warm-up would otherwise pay
    val checkS = timed(w.check())
    var failedPasses = 0
    /** One pass's time, or None when an operation in it failed. */
    def timedPass(run: => Boolean): Option[Double] = {
      var ok = false
      val t = timed { ok = run }
      if (!ok) {
        failedPasses += 1
        if (failedPasses >= Loop.MinPasses)
          throw new IllegalStateException(s"$failedPasses passes failed")
      }
      if (ok) Some(t) else None
    }
    val warm = ArrayBuffer.empty[Double]
    // a fixed count, so set-up does the same work in every run
    while (warm.length < w.warmPasses) {
      settle()
      warm += timedPass(w.pass()).getOrElse(Double.NaN)
    }
    val scratch = work.resolve("spark-local").resolve("graft-scratch")
    clear(scratch)
    flush(work)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- timed region: whole passes until `seconds` have elapsed ----------
    val times = ArrayBuffer.empty[Double]
    val traces = ArrayBuffer.empty[PassStats]
    val regionStart = System.nanoTime()
    def elapsed = (System.nanoTime() - regionStart) / 1e9
    val left = ArrayBuffer.empty[Double]
    var i = 0
    while (elapsed < seconds || times.length < Loop.MinPasses ||
        (traced && traces.length < Loop.MinPasses)) {
      settle()
      // traced runs interleave untraced and traced passes as U T T U U T …,
      // so a drift in pass times biases neither side of the overhead
      if (traced && (i % 4 == 1 || i % 4 == 2)) {
        val stats = probe.open()
        tracer.enabled = true
        val t = timedPass(tracer("bench", "pass")(w.pass()))
        tracer.enabled = false
        stats.finish()
        org.apache.spark.PerfbenchListenerDrain(spark.sparkContext)
        probe.close()
        t.foreach { s => stats.seconds = s; traces += stats }
      } else timedPass(w.pass()).foreach(times += _)
      left += clear(scratch) / 1048576.0
      i += 1
    }
    val wallS = median(times.toSeq)
    val liveHeapMb = liveHeapAfterGc()
    // what one pass left behind in the snapshot scratch root
    val scratchLeftMb = median(left.toSeq)

    val layer: Map[String, Double] =
      if (!traced) Map.empty
      else {
        def med(f: PassStats => Double) = median(traces.map(f).toSeq)
        val jobs = traces.map(_.jobs)
        val tracedS = med(_.seconds)
        Map(
          "sources.gen_s" -> genS,
          "trace.pass_s" -> tracedS,
          "trace.overhead_pct" -> 100.0 * (tracedS / wallS - 1.0),
          "spark.jobs" -> med(_.jobs.toDouble),
          "spark.jobs_min" -> jobs.min.toDouble,
          "spark.jobs_max" -> jobs.max.toDouble,
          "spark.stages" -> med(_.stages.toDouble),
          "spark.tasks" -> med(_.tasks.toDouble),
          "spark.task_s" -> med(_.taskMs / 1e3),
          "spark.driver_gap_s" -> med(_.driverGapMs / 1e3),
          "spark.task_skew" -> med(_.taskSkew),
          "spark.shuffle_mb" -> med(_.shuffleBytes / 1048576.0),
          "spark.spill_mb" -> med(_.spillBytes / 1048576.0),
          "spark.block_mb" -> med(_.peakBlockBytes / 1048576.0),
          // means, not medians: a pass that starts from a collected heap may
          // run no collection at all, and a median of zeros hides the others
          "jvm.gc_count" -> traces.map(_.gcCount).sum.toDouble / traces.length,
          "jvm.gc_s" -> traces.map(_.gcMs).sum / 1e3 / traces.length,
          "snap.scratch_left_mb" -> scratchLeftMb) ++
          tracer.selfByLayer.map { case (l, s) => s"self.$l" -> s / traces.length } ++
          Probes.kernels() ++ Probes.functions(ctx, w.probePages) ++ w.layerMetrics(traces.length)
      }

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "nproc" -> nproc,
      "traced" -> traced,
      "sizes" -> w.sizes,
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
      "session_s" -> sessionS,
      "gen_s" -> genS,
      "warm_s" -> warm.toSeq,
      "check_s" -> checkS,
      "setup_s" -> setupS,
      "pass_s" -> times.toSeq,
      "traced_pass_s" -> traces.map(_.seconds).toSeq,
      "wall_s" -> wallS,
      "rates" -> w.rates(wallS),
      "live_heap_mb" -> liveHeapMb,
      "scratch_left_mb" -> scratchLeftMb,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "failures" -> ops.failures.toSeq,
      "layer" -> layer,
      "spans" -> (if (traced) tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq
        else Nil))
    Files.writeString(out, Json(result))
    spark.stop()
  }
}

/** Timing-loop constants, shared by every workload. */
object Loop {
  /** The median needs at least this many timed passes. */
  val MinPasses = 3
}

/** Layer probes outside any workload pass: the pure parse and geo kernels
 * (single thread) and the `functions` stages over cached pages. */
object Probes {
  /** Keeps the kernels' results live so the JIT cannot drop the calls. */
  @volatile var blackhole = 0L

  private def perCall(reps: Int, calls: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map(_ => Main.timed(body))
    Main.median(ts) / calls
  }

  def kernels(): Map[String, Double] = {
    import graft.sources.Fixtures
    val html = (0L until 4000L).map(Fixtures.pageHtml).toArray
    var sink = 0L
    val textUs = perCall(9, html.length) {
      html.foreach(h => sink += graft.parse.Extractor.extractTextBytes(h).length)
    } * 1e6
    val parseUs = perCall(9, html.length) {
      html.foreach(h => sink += graft.parse.HtmlParser.parse(h).nodes.length)
    } * 1e6
    val n = 1 << 20
    val lat = Array.tabulate(n)(i => Fixtures.mix(i.toLong) % 85000 / 1000.0)
    val lon = Array.tabulate(n)(i => Fixtures.mix(i.toLong + n) % 180000 / 1000.0)
    val cellNs = perCall(9, n) {
      var i = 0
      while (i < n) { sink += graft.geo.CellIndex.latLonToCell(lat(i), lon(i), 8); i += 1 }
    } * 1e9
    val rings = Fixtures.polygons(64).map(_.ring).toArray
    val pipNs = perCall(9, n) {
      var i = 0
      while (i < n) {
        if (graft.geo.Geometry.pointInPolygon(lon(i), lat(i), rings(i & 63))) sink += 1
        i += 1
      }
    } * 1e9
    blackhole = sink
    Map("parse.extract_text_us" -> textUs, "parse.html_parse_us" -> parseUs,
      "geo.cell_id_ns" -> cellNs, "geo.pip_ns" -> pipNs)
  }

  def functions(c: Ctx, pages: DataFrame): Map[String, Double] = {
    import graft.functions._
    val cached = pages.select("url", "html").persist()
    c.sink(cached)
    val ents = cached.select(col("url"),
      extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon"))).persist()
    c.sink(ents)
    def stage(df: => DataFrame): Double = Main.median((1 to 3).map(_ => Main.timed(c.sink(df))))
    val out = Map(
      "functions.extract_geo_s" -> stage(cached.select(
        extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))),
      "functions.extract_text_s" -> stage(cached.select(extract_text(col("html")))),
      "functions.cell_id_s" -> stage(ents.select(cell_id(col("lat"), col("lon"), 8))))
    ents.unpersist(true); cached.unpersist(true)
    out
  }
}
