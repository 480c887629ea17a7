package graft

import org.apache.spark.sql.functions._

/** Child-JVM entry for the scaling measurements (forked by [[Bench]] so
 * each parallelism level gets a clean heap + JIT). Prints SECONDS=… of
 * the timed run after an untimed warm-up.
 *
 * Two pipelines (`mode` arg):
 *  - `spatial`: the flagship map-heavy path — read pages parquet →
 *    extract geo → cell-encode → broadcast spatial join → raster tiles.
 *  - `knn`: the iterative ring-expansion kNN join — measures the scaling
 *    of the multi-round driver loop (per-round band join + partial top-k
 *    aggregate + checkpoints), the engine's other scaling regime. Input is
 *    deterministic integer-hash points (compute-bound by construction,
 *    same derivation family as the q21-q24 fixtures).
 */
object BenchPipeline {
  def main(args: Array[String]): Unit = {
    val Array(cores, mode, pagesPath, polysPath) = args
    // the bench fixture is many small parquet files; with the 128 MB
    // default they coalesce into ~4 input splits and the parse stage
    // can't use the cores. At production scale files are 128 MB-1 GB
    // and splits abound — these settings make the bench representative.
    val splits = Seq(
      "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.files.openCostInBytes" -> "131072")
    // regime-specific tuning, each documented in SCALE.md/BASELINE.md:
    //  - kNN (aggregation/state-heavy iterative loop): 4× cores shuffle
    //    partitions shrink per-task live sets during aggregation (cheaper
    //    young GCs); hash join for the equal-size keyed state fold (no
    //    per-round re-sort); stable partition counts so the loop's
    //    checkpoint-preserved partitioning lines up round over round.
    //  - spatial (map-heavy broadcast pipeline): the r2/r3-calibrated
    //    shape — partitions = cores, AQE coalescing on.
    val regime =
      if (mode == "knn") Seq(
        "spark.sql.shuffle.partitions" -> (cores.toInt * 4).toString,
        "spark.sql.join.preferSortMergeJoin" -> "false",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
      else Seq("spark.sql.shuffle.partitions" -> cores)
    val spark = BenchSession(cores.toInt, s"graft-pipeline-$cores", "ERROR", splits ++ regime: _*)

    def runKnn(): Long = {
      // nearest-neighbor join: 4M query points vs 30k targets at res 5
      // (32x32 grid, ~30 targets/cell → ~270 candidates/query in the
      // first band; the loop resolves in two rounds like a well-sized
      // production run). Composition matters for the scaling measurement:
      // per-candidate COMPUTE (fully codegen'd via the k=1 declarative
      // aggregate, see Knn.applyNearest) must dominate, while per-QUERY
      // state (checkpoints, exchanges, GC of both) stays small — state
      // costs are largely core-count-independent and cap efficiency when
      // N grows past ~8M (measured: 12M/10k read 0.77-0.80; 4M/30k with
      // the same candidate volume reads ~1.0). k > 1 routes through
      // ObjectHashAggregate whose codegen-boundary row copies re-add a
      // GC term (SCALE.md) — the k=1 path is the representative regime.
      val knnN = sys.env.getOrElse("SPARK_GRAFT_KNN_N", "4000000").toLong
      val knnK = sys.env.getOrElse("SPARK_GRAFT_KNN_K", "1").toInt
      val knnT = sys.env.getOrElse("SPARK_GRAFT_KNN_T", "30000").toLong
      runKnnAt(knnN, knnK, knnT)
    }

    def runKnnAt(knnN: Long, knnK: Int, knnT: Long): Long = {
      val q = spark.range(0L, knnN, 1L, cores.toInt * 4).select(
        col("id").as("qk"),
        ((pmod(col("id") * 7919, lit(17000)) - 8500).cast("double") / 100.0).as("qlat"),
        ((pmod(col("id") * 104729, lit(36000)) - 18000).cast("double") / 100.0).as("qlon"))
      val t = spark.range(0L, knnT, 1L, cores.toInt).select(
        col("id").as("tk"),
        ((pmod(col("id") * 104729, lit(16000)) - 8000).cast("double") / 100.0).as("tlat"),
        ((pmod(col("id") * 7919, lit(35000)) - 17500).cast("double") / 100.0).as("tlon"))
      // k >= 2 measures the declarative TopKSlots fold directly (the
      // scaling_knn3 regime), not whichever path the router would pick
      val result =
        if (knnK >= 2) graft.operators.Knn.applyDeclK(q, "qk", "qlat", "qlon",
          t, "tk", "tlat", "tlon", knnK, res = 5, reliableCheckpoint = false)
        else graft.operators.Knn(q, "qk", "qlat", "qlon", t, "tk", "tlat", "tlon",
          k = knnK, res = 5)
      val n = result.count()
      // the result is backed by per-round checkpoint blocks; without an
      // explicit release they persist until a driver GC lets the
      // ContextCleaner at them, and runs 2-3 of this same JVM measure
      // with gigabytes of dead blocks inflating old-gen GC pressure
      org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(result)
      n
    }

    def runSpatial(): Long = {
      val pages = spark.read.parquet(pagesPath)
      // the polygon layer arrives as one small file; repartition so the
      // cell-cover generate (broadcast build side) is not a single task
      val polys = spark.read.parquet(polysPath).repartition(cores.toInt)
      // extract once, reuse for both branches (the parse is the dominant
      // cost; recomputing it doubles the job for no reason)
      val ents = pages.select(col("url"),
        graft.functions.extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
        .persist()
      // the polygon side broadcasts (no shuffle), so hot-cell skew cannot
      // concentrate a partition; in the shuffle regime (huge polygon
      // layers) AQE's skew split handles it, see SpatialJoin scaladoc.
      val joined = graft.operators.SpatialJoin(
        ents, polys, col("lat"), col("lon"), col("ring"), res = 8)
      val tiles = graft.operators.Tiler.raster(ents, "lat", "lon", zoom = 6)
      // two sequential actions: the first materializes the ents cache, the
      // second reuses it (a single union-job would race both branches
      // before the cache exists and extract twice — measured slower)
      val n = joined.count() + tiles.count()
      ents.unpersist()
      n
    }

    /** Isolated PIP-refinement probe on many-edge "coastline" rings. N
     * deterministic probe points each test against one broadcast V-vertex
     * ring through the one PIP kernel. PIP_BANDS picks the index the rings
     * carry: unset or `auto` derives it from the ring (the index
     * SpatialJoin attaches, `PipRt.edgeIndex`), 0 forces NULL (every edge
     * scanned), n > 0 forces an n-band index. Decision-identical, so the
     * counts must agree between modes. Measured numbers live in
     * BASELINE.md §edge-index. */
    def runPip(): Long = {
      val pipN = sys.env.getOrElse("SPARK_GRAFT_PIP_N", "2000000").toLong
      val pipP = sys.env.getOrElse("SPARK_GRAFT_PIP_POLYS", "64").toInt
      val pipV = sys.env.getOrElse("SPARK_GRAFT_PIP_VERTS", "512").toInt
      val idx = sys.env.getOrElse("SPARK_GRAFT_PIP_BANDS", "auto") match {
        case "auto" => graft.functions.edge_index(col("ring"))
        case "0"    => lit(null).cast("array<double>")
        case n      => graft.functions.polygon_y_index(col("ring"), n.toInt)
      }
      val polys = graft.sources.Fixtures.coastPolygonsDf(spark, pipP, pipV)
        .withColumn("__pidx", idx)
      // probe points: per point, its polygon's first vertex + a spread
      // covering inside and outside (deterministic in the point id)
      val pts = spark.range(0L, pipN, 1L, cores.toInt * 4).select(
        col("id"),
        pmod(col("id"), lit(pipP)).as("polygon_id"),
        ((pmod(col("id") * 7919, lit(400)) - 200).cast("double") / 50.0).as("__dx"),
        ((pmod(col("id") * 104729, lit(400)) - 200).cast("double") / 50.0).as("__dy"))
      pts.join(broadcast(polys), "polygon_id")
        .withColumn("__px", element_at(col("ring"), 1) + col("__dx"))
        .withColumn("__py", element_at(col("ring"), 2) + col("__dy"))
        .where(graft.functions.point_in_polygon_indexed(
          col("__px"), col("__py"), col("ring"), col("__pidx")))
        .count()
    }

    def run(): Long = mode match {
      case "spatial" => runSpatial()
      case "knn"     => runKnn()
      case "pip"     => runPip()
      case other     => throw new IllegalArgumentException(s"unknown bench mode '$other'")
    }
    // warm-up: JIT + page cache. SPARK_GRAFT_KNN_WARM_N shrinks the kNN
    // warm-up input (the loop's code paths JIT just as well on N/4 — used
    // by the expensive k = 3 regime to keep its children affordable);
    // SPARK_GRAFT_TIMED_RUNS trims the per-child timed draws for the same
    // reason (the parent compensates with multiple children per level).
    val warmN = sys.env.get("SPARK_GRAFT_KNN_WARM_N").map(_.toLong)
    if (mode == "knn" && warmN.isDefined)
      runKnnAt(warmN.get,
        sys.env.getOrElse("SPARK_GRAFT_KNN_K", "1").toInt,
        sys.env.getOrElse("SPARK_GRAFT_KNN_T", "30000").toLong)
    else run()
    // min of timed runs; the parent draws additional children per level
    // (asymmetrically — see Bench: more on the noisier 16-core side) and
    // takes the min across all of a level's draws, picking the
    // steady-state mode of the bursty host noise
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_TIMED_RUNS", "2").toInt
    val times = (1 to timedRuns).map { _ =>
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"SECONDS=${times.min}%.4f")
    spark.stop()
  }
}
