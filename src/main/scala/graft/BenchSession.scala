package graft

import org.apache.spark.sql.SparkSession

/** The session the measurement mains (BenchExtra, BenchPipeline,
 * SketchBench) share; each passes only its own confs. (Bench and Verify
 * build theirs inline.) */
object BenchSession {
  def apply(cores: Int, appName: String, logLevel: String,
      confs: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      // per-group top-k buffers are ~100 B, so many in-memory groups per
      // partition are fine; at the 128-group default ObjectHashAggregate
      // silently degrades to SORT-based aggregation, reintroducing the
      // sort the top-k aggregates exist to avoid
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "50000000")
      // shuffle/spill files on tmpfs: the sandbox's /tmp is a slow shared
      // virtual disk whose bandwidth does not scale with cores (measured:
      // it froze the 4c→16c ratio at ~2.4 on shuffle-heavy rounds); a real
      // cluster executor writes shuffle to fast node-local NVMe
      .config("spark.local.dir", "/dev/shm/graft-bench")
      .config("spark.ui.enabled", "false")
    val s = confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
