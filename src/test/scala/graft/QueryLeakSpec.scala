package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

/**
 * The per-query protocol of Bench/Verify/BenchExtra — consume the result,
 * then `GraftBridge.releaseCheckpointBlocks(result)` — must leave nothing
 * behind: every block a query materialized that its result does not read
 * is released by the query's own scope, and every persisted frame is
 * unpersisted.
 */
class QueryLeakSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  for (name <- Seq("q57_dedup_components", "q58_clean_corpus", "q116_crawl_front_door",
      "q119_curation_pipeline", "q107_incremental_dedup", "q124_snapshot_diff")) {
    test(s"$name leaves no blocks after its result is released") {
      val sc = spark.sparkContext
      val before = GraftBridge.storedRddBytes(sc).keySet
      val df = SparkEntry.queries(name)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      GraftBridge.releaseCheckpointBlocks(df)
      val left = GraftBridge.storedRddBytes(sc) -- before
      assert(left.isEmpty, s"left: ${left.mkString(", ")}")
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty)
    }
  }
}
