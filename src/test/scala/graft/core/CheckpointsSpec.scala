package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class CheckpointsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import Checkpoints.{materialize, persist, scope}

  private def frame(n: Int): DataFrame = spark.range(0, n, 1, 4).toDF("id")

  private def stored: Set[Int] =
    org.apache.spark.sql.GraftBridge.storedRddBytes(spark.sparkContext).keySet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  test("a checkpoint the result reads is kept") {
    val before = stored
    var read: DataFrame = null
    val result = scope {
      read = materialize(frame(20).where(col("id") % 2 === 0), fanOut = true)
      read.select((col("id") + 1).as("id"))
    }
    assert(stored -- before == rddIds(read))
    assert(result.count() == 10)
    org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(result)
    assert(stored -- before == Set.empty)
  }

  test("a checkpoint the result does not read is released at scope exit") {
    val before = stored
    var scratch: DataFrame = null
    val result = scope {
      scratch = materialize(frame(20).withColumn("sq", col("id") * col("id")))
      assert(stored.exists(rddIds(scratch)))
      materialize(scratch.where(col("sq") > 100))
    }
    assert(!stored.exists(rddIds(scratch)))
    assert(stored -- before == rddIds(result))
    assert(result.count() == 9)
    org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(result)
  }

  test("a nested scope's survivor is released by an outer scope whose result does not read it") {
    val before = stored
    var inner: DataFrame = null
    val result = scope {
      inner = scope(materialize(frame(10)))
      assert(stored.exists(rddIds(inner)), "the inner result keeps its own checkpoint")
      materialize(inner.select((col("id") + 1).as("id")))
    }
    assert(!stored.exists(rddIds(inner)))
    assert(result.count() == 10)
    org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(result)
    assert(stored -- before == Set.empty)
  }

  test("a body that throws leaves no blocks and no cache entries") {
    val before = stored
    val boom = intercept[IllegalStateException] {
      scope {
        val p = persist(frame(10))
        p.count()
        val kept = materialize(p.select((col("id") * 2).as("id")))
        scope(materialize(kept.where(col("id") > 4)))
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage == "boom")
    assert(stored -- before == Set.empty)
    assert(cacheEmpty)
  }

  test("a persisted frame is unpersisted at scope exit") {
    var p: DataFrame = null
    val n = scope {
      p = persist(frame(10).withColumn("x", col("id") + 1))
      p.count()
      assert(!cacheEmpty)
      p.count()
    }
    assert(n == 10)
    assert(p.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(cacheEmpty)
  }

  test("materialize outside any scope leaves the caller's blocks alone") {
    val before = stored
    val cp = materialize(frame(10))
    // an unrelated scope exiting does not touch the caller-owned checkpoint
    assert(scope(materialize(frame(5)).count()) == 5)
    assert(stored -- before == rddIds(cp))
    org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(cp)
    assert(stored -- before == Set.empty)
  }
}
