package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * The one owner of the blocks operators materialize. Operators cut lineage
 * with [[materialize]] and share a cached input with [[persist]]; both
 * record the frame in the innermost open [[scope]], which wraps the public
 * entry of every such operator and every `SparkEntry.queries` body. When
 * a scope's body returns, frames persisted inside it are unpersisted, and
 * checkpoints taken inside it are released unless the returned value's
 * analyzed plan reads them (a Dataset, or the Datasets of a tuple) — no
 * caller could reach those blocks. The rest pass to the enclosing scope,
 * which decides again against its own result; outside any scope they
 * belong to the caller, who releases them with
 * `GraftBridge.releaseCheckpointBlocks(result)` after the last action
 * over the result (Bench, Verify and BenchExtra do so per query). A body
 * that throws releases everything taken inside it.
 *
 * Checkpoint blocks are RDD-level persisted, not CacheManager entries:
 * `df.unpersist()` never frees them, and unreleased they live until a
 * driver GC lets the ContextCleaner at them. Loops still release
 * superseded per-round state themselves, so they hold about two rounds
 * of state, not every round until exit. Scopes are per thread; a body
 * must not `return` (a non-local return unwinds like an exception and
 * releases everything).
 */
object Checkpoints {

  private final class Scope {
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    val persisted = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /**
   * Eagerly materialize `df` and truncate its lineage: `localCheckpoint`,
   * or with `reliable` `checkpoint` (needs a checkpoint dir; local blocks
   * die with their executor). `fanOut` repartitions to
   * spark.sql.shuffle.partitions first: AQE coalesces a small aggregate or
   * join output to ONE partition and the checkpoint freezes that, so heavy
   * work downstream (band self-joins, stage passes over frontier text)
   * runs single-task — q14's candidate join measured 1.27 s in one task of
   * a 1.45 s query. REPARTITION_BY_NUM shuffles are never AQE-coalesced.
   */
  def materialize(df: DataFrame, fanOut: Boolean = false, reliable: Boolean = false): DataFrame = {
    val in =
      if (!fanOut) df
      else df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val out = if (reliable) in.checkpoint(eager = true) else in.localCheckpoint(true)
    open.get.headOption.foreach(_.checkpoints ++= rddsOf(out))
    out
  }

  /** `df.persist()` (MEMORY_AND_DISK), unpersisted when the innermost
   * open scope exits. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    open.get.headOption.foreach(_.persisted += df)
    df
  }

  /** Run `body`, then release what it materialized and its result does
   * not read (see the object doc). */
  def scope[T](body: => T): T = {
    val s = new Scope
    val outer = open.get
    open.set(s :: outer)
    var read = Set.empty[Int] // ids of the checkpoint RDDs the result reads
    try {
      val result = body
      read = datasetsOf(result).flatMap(rddsOf).map(_.id).toSet
      result
    } finally {
      open.set(outer)
      s.persisted.foreach(_.unpersist(false))
      val (kept, dropped) = s.checkpoints.partition(r => read(r.id))
      // per-round releases already dropped some; skip those
      dropped.filter(_.getStorageLevel != StorageLevel.NONE).foreach(_.unpersist(false))
      outer.headOption.foreach(_.checkpoints ++= kept)
    }
  }

  private def rddsOf(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries { case lr: LogicalRDD => lr.rdd }

  private def datasetsOf(x: Any): Iterator[Dataset[_]] = x match {
    case d: Dataset[_] => Iterator(d)
    case p: Product => p.productIterator.flatMap(datasetsOf)
    case _ => Iterator.empty
  }
}
