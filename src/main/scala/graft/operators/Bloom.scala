package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.core.Checkpoints

/**
 * Bloom-filter runtime join pruning — the shuffle-reduction move for
 * selective joins at 100 TB, built from the pair Spark's own
 * InjectRuntimeFilter uses (`BloomFilterAggregate` builds,
 * `BloomFilterMightContain` probes), applied where the optimizer's
 * heuristics don't reach (e.g. across a checkpoint or a non-equi
 * pre-filter).
 */
object Bloom {

  /**
   * `big` rows whose `bigKey` appears in `small`'s `smallKey` — a plain
   * left-semi join, pre-pruned by a bloom filter over the xxhash64'd
   * small keys so the big side's exchange carries |big| · selectivity ·
   * (1 + ε) rows instead of |big|. Result is EXACTLY the semi-join's:
   * false positives die in the exact join, false negatives are impossible.
   *
   * `expectedKeys` sizes the filter at 10 bits per key (≈ 1% FPR); pass
   * the dimension side's approximate cardinality — an over-estimate only
   * wastes filter bytes. Spark caps both numbers with
   * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` and
   * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` (defaults 4M
   * items, 64M bits = 8 MiB).
   *
   * The filter reaches the probe as a scalar subquery, evaluated once, so
   * the probe is a `Filter` in the big side's scan stage, below the semi
   * join. A cross-joined broadcast column instead lets the optimizer push
   * the semi join below the cross join, and the probe then prunes nothing.
   *
   * `small`'s keys are materialized once (one checkpoint job), and both
   * the filter's subquery and the semi join's build side read those
   * blocks: over `small` itself each evaluates its plan again. The result
   * reads the blocks, so the caller releases them ([[graft.core.Checkpoints]]).
   */
  def prunedSemiJoin(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      expectedKeys: Long): DataFrame = Checkpoints.scope {
    val keys = Checkpoints.materialize(small.select(col(smallKey)))
    val build = new BloomFilterAggregate(
      GraftBridge.expression(xxhash64(col(smallKey))),
      Literal(expectedKeys), Literal(expectedKeys * 10))
    val filter = keys.select(GraftBridge.column(build.toAggregateExpression())).scalar()
    val pruned = big.where(GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(filter), GraftBridge.expression(xxhash64(col(bigKey))))))
    pruned.join(keys, pruned(bigKey) === keys(smallKey), "left_semi")
  }
}
