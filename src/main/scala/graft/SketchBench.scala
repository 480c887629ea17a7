package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * One-off disclosed measurement for the realistic-k sketch regime
 * (SCALE.md / BASELINE.md): KMV sketches need k = 256–1024 for useful
 * error bounds (relative error ~ 1/sqrt(k−2)), and at k > TopKSlots.JitK
 * (4) the bottom-k aggregate rides the imperative TopKAggExpr, forcing
 * ObjectHashAggregate — whose whole-stage-codegen span boundary copies
 * every input row (the ~100 GB/child profile in SCALE.md). This main
 * measures that cost like-for-like at sketch-build level and the
 * bucket-minima alternative that avoids it:
 *
 *  1. kmv_k256_imperative — [[graft.operators.Sketches.kmvSketch]] k=256:
 *     md5 hash → distinct shuffle → ObjectHashAggregate(TopKAggExpr).
 *  2. kmv_k4_declarative — same, k=JitK=4: the largest codegen-fused
 *     TopKSlots sketch (the only delta vs 1 is the bottom-k aggregate).
 *     k = 5..16 slots variants are NOT measured here: their generated
 *     update method exceeds the JVM's 8000-byte JIT huge-method limit
 *     and runs interpreted — measured 77 s (k=8) / 132 s (k=16) vs
 *     13 s imperative on this same fixture, the cliff that set JitK.
 *  3. minbucket_k256 — [[graft.operators.Sketches.minBucketSketch]]
 *     k=256: md5 hash → ONE partial-min shuffle (no distinct pre-pass,
 *     HashAggregateExec at any k).
 *
 * Fixture: N rows (default 100M), V = N/2 distinct string values, 64
 * groups, value↔group association stable (each value always lands in the
 * same group, like per-source user ids). All three paths share the md5
 * hashing cost by construction. Timed run after a 1/8-size warm-up in
 * the same JVM; run with the host otherwise idle.
 *
 * Usage: SPARK_GRAFT_CPUS=16 sbt -batch "runMain graft.SketchBench"
 * Output: one JSON line with the three wall times.
 */
object SketchBench {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val n = sys.env.getOrElse("SPARK_GRAFT_SKETCH_N", "100000000").toLong
    // the shared session raises the sort-fallback threshold: 64 groups here
    // sit under even the 128 default, but the number is measured under the
    // documented production recipe (CLAUDE.md/SCALE.md)
    val spark = BenchSession(cores, s"graft-sketch-bench-$cores", "WARN",
      "spark.sql.shuffle.partitions" -> cores.toString)

    // Group cardinality is THE regime knob (SPARK_GRAFT_SKETCH_GROUPS):
    // 64 ≈ per-event-type dashboards, where every path's aggregation
    // state is trivially hash-resident; 65536+ ≈ per-host/per-domain
    // sketches, where the imperative KMV holds groups × k-long buffers
    // in ObjectHashAggregate (sort-fallback territory without the
    // raised threshold) while minbucket's state stays fixed-width
    // primitive longs in HashAggregateExec.
    val groups = sys.env.getOrElse("SPARK_GRAFT_SKETCH_GROUPS", "64").toLong

    // N rows, N/2 distinct values; group = value mod `groups` so the
    // value↔group association is stable across duplicate occurrences
    def fixture(rows: Long): DataFrame = {
      val v = pmod(col("id"), lit(rows / 2))
      spark.range(0L, rows, 1L, cores * 4).select(
        concat(lit("g"), pmod(v, lit(groups)).cast("string")).as("g"),
        concat(lit("u"), v.cast("string")).as("v"))
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import graft.operators.Sketches
    // Consume with a noop WRITE, never count(): count() over
    // groupBy(g).agg(sketch) lets Catalyst PRUNE the aggregate function
    // (only the group keys survive column pruning), so a counted "kmv
    // build" measures distinct-g and skips the ObjectHashAggregate
    // entirely — the first cut of this bench read 8 s for a path whose
    // real cost is 249 s. The noop sink consumes every output column.
    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val paths: Seq[(String, DataFrame => Unit)] = Seq(
      "kmv_k256_imperative" -> (df => consume(Sketches.kmvSketch(df, Seq("g"), "v", 256))),
      "kmv_k4_declarative" -> (df => consume(Sketches.kmvSketch(df, Seq("g"), "v", 4))),
      "minbucket_k256" -> (df => consume(Sketches.minBucketSketch(df, Seq("g"), "v", 256))))
    val results = paths.map { case (name, run) =>
      run(fixture(n / 8)) // warm-up: JIT + codegen cache
      name -> time(run(fixture(n)))
    }
    def f(d: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    println(s"""{"rows":$n,"distinct":${n / 2},"groups":$groups,"cores":$cores,""" +
      results.map { case (k, v) => s""""${k}_sec":${f(v)}""" }.mkString(",") + "}")
    spark.stop()
  }
}
