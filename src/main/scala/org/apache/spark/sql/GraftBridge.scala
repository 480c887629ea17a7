package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark 4's private[sql] Column↔Expression conversions.
 * Spark 4 made Column implementation-agnostic; classic-mode extensions
 * (like this engine's custom Catalyst expressions) use the same pattern
 * Spark's own `org.apache.spark.sql.classic` internals use.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A declared input type (`ExpectsInputTypes.inputTypes`) accepting any of `ts`. */
  def anyOf(ts: types.AbstractDataType*) = types.TypeCollection(ts: _*)

  /** A declared STRING input of any collation: a bare `StringType` accepts
   * only the default one. */
  val anyString = internal.types.StringTypeWithCollation(supportsTrimCollation = true)

  /** Spark's wrong-number-of-arguments `AnalysisException` for a SQL function. */
  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    errors.QueryCompilationErrors.wrongNumArgsError(name, Seq(expected), actual)

  /**
   * Stored bytes per RDD id, over every RDD block the block manager
   * master tracks — the reading a leak check diffs before and after a
   * query. `SparkContext.getRDDStorageInfo` lists only RDDs still alive
   * in the context's weak-valued map, so a stranded block drops out of it
   * as soon as a driver GC collects its RDD; the master keeps listing the
   * block until it is removed. `unpersist` updates the master's metadata
   * synchronously, so a released RDD leaves this map at once.
   */
  def storedRddBytes(sc: org.apache.spark.SparkContext): Map[Int, Long] = {
    val master = sc.env.blockManager.master
    master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = false)
      .collect { case b: org.apache.spark.storage.RDDBlockId => b }
      .groupMapReduce(_.rddId)(b => master.getBlockStatus(b, askStorageEndpoints = false)
        .values.map(st => st.memSize + st.diskSize).sum)(_ + _)
  }

  /**
   * Deterministically release the RDD blocks backing a
   * `localCheckpoint`/`checkpoint`-ed Dataset. `df.unpersist()` is a
   * NO-OP for these — the blocks are RDD-level persisted, not
   * CacheManager entries — so without this they live in executor storage
   * until the ContextCleaner notices the RDD is garbage (i.e. a driver
   * GC of unpredictable timing). Iterative operators (Dedup.components,
   * Knn) release superseded per-round state through here.
   *
   * SAFETY: a checkpointed plan's lineage is truncated — the blocks ARE
   * the data. Only call once nothing derived from the Dataset will run
   * again; a later action over a released checkpoint fails.
   */
  def releaseCheckpointBlocks(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
