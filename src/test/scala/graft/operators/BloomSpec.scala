package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class BloomSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ----- prunedSemiJoin: result identity + actual pruning -----

  private lazy val big = spark.range(0, 50000).select(
    (col("id") % 5000).as("k"), (col("id") * 31 % 997).as("payload"))
  // selective dimension: 2% of the big side's key space
  private lazy val small = spark.range(0, 100).select((col("id") * 50).as("sk"))

  test("prunedSemiJoin == plain left-semi join, bit for bit") {
    val got = Bloom.prunedSemiJoin(big, "k", small, "sk", expectedKeys = 100)
      .orderBy("k", "payload").collect()
    val want = big.join(small, big("k") === small("sk"), "left_semi")
      .orderBy("k", "payload").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.nonEmpty)
  }

  test("the bloom prefilter actually prunes (and never loses a match)") {
    val joined = Bloom.prunedSemiJoin(big, "k", small, "sk", expectedKeys = 100)
    joined.collect()
    // rows out of the big side's bloom probe, read off the executed Filter
    val probes = probeFilters(joined)
    assert(probes.size == 1, finalPlan(joined).toString)
    val nSurvive = probes.head.metrics("numOutputRows").value
    val nMatch = big.join(small, big("k") === small("sk"), "left_semi").count()
    val nBig = big.count()
    assert(nSurvive >= nMatch, "bloom lost a true match (false negative)")
    // 100/5000 keys match → ~2% + FPR; anything under 10% proves pruning
    assert(nSurvive < nBig / 10,
      s"bloom pruned nothing: $nSurvive of $nBig survived")
  }

  test("null keys on either side neither crash nor leak into the result") {
    val bigN = big.select(when(col("k") === 17, lit(null)).otherwise(col("k")).as("k"),
      col("payload"))
    val smallN = small.union(Seq.empty[Long].toDF("sk")) // keep types
      .select(when(col("sk") === 50, lit(null)).otherwise(col("sk")).as("sk"))
    val got = Bloom.prunedSemiJoin(bigN, "k", smallN, "sk", expectedKeys = 100)
      .orderBy("k", "payload").collect()
    val want = bigN.join(smallN, bigN("k") === smallN("sk"), "left_semi")
      .orderBy("k", "payload").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("plan: probe stays in the big side's codegen span before the join") {
    val joined = Bloom.prunedSemiJoin(big, "k", small, "sk", expectedKeys = 100)
    joined.collect()
    val plan = finalPlan(joined)
    // the exact semi join is still there to kill false positives, and the
    // big side's probe Filter sits below it, inside a whole-stage span
    // (the optimizer also infers the probe onto the small side through the
    // join keys; there it passes every row)
    val probes = probeFilters(joined)
    assert(probes.size == 1, plan.toString)
    assert(collectInPlan(plan) { case w: WholeStageCodegenExec => w }
      .exists(w => collectInPlan(w.child) { case f: FilterExec => f }.contains(probes.head)),
      plan.toString)
  }

  /** The executed plan with AQE's final plan unwrapped. */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }

  /** `pf` over `p`, descending into query stages. */
  private def collectInPlan[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    p.collect(pf) ++ p.collect {
      case s: QueryStageExec => collectInPlan(s.plan)(pf)
      case a: AdaptiveSparkPlanExec => collectInPlan(a.finalPhysicalPlan)(pf)
    }.flatten

  /** The bloom probe Filters below the one LeftSemi join's big (left) side. */
  private def probeFilters(df: DataFrame): Seq[FilterExec] = {
    val semis = collectInPlan(finalPlan(df)) {
      case j: BaseJoinExec if j.joinType == LeftSemi => j
    }
    assert(semis.size == 1, finalPlan(df).toString)
    collectInPlan(semis.head.left) {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
  }
}
