package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

/**
 * End-to-end laws of the declarative [[TopKSlots]] aggregate: run through
 * a real groupBy over many partitions (so Spark exercises BOTH the
 * per-row update chain and the order-statistic buffer merge, in whatever
 * split the scheduler picks) and compare against sort-take under SQL
 * double ordering (NaN largest, −0.0 == 0.0). Also pins plan shape:
 * the aggregate must plan as HashAggregate (fixed-width declarative
 * buffer), not ObjectHashAggregate — that fusion IS the point — and the
 * JIT limit [[TopKSlots.JitK]] stands on. The same sort-take law covers
 * every branch of the ranked owner [[TopK.ranked]].
 */
class TopKSlotsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** SQL double ordering: NaN largest, −0.0 == 0.0 (nanSafeCompare). */
  private def cmp(x: Double, y: Double): Int =
    if (x < y) -1 else if (x > y) 1
    else if (x.isNaN && y.isNaN) 0 else if (x.isNaN) 1 else if (y.isNaN) -1 else 0

  private def sortTake(xs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    xs.sortWith { case ((s1, k1), (s2, k2)) =>
      val c = cmp(s1, s2); c > 0 || (c == 0 && k1 < k2)
    }.take(k)

  /** Deterministic draw: coarse scores (ties), small key space, NaN mix.
   * No −0.0 (score producers in the engine never emit it — documented
   * TopKSlots caveat) and no ±∞ (caller contract). */
  private def draw(seed: Long, groups: Int): Seq[(Long, Double, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(40 + rnd.nextInt(160)) {
      val s = if (rnd.nextInt(10) == 0) Double.NaN else (rnd.nextInt(41) - 20) / 10.0
      (rnd.nextInt(groups).toLong, s, rnd.nextInt(25).toLong)
    }
  }

  private def eqPairs(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Boolean =
    a.size == b.size && a.zip(b).forall { case ((s1, k1), (s2, k2)) =>
      (java.lang.Double.doubleToLongBits(s1) == java.lang.Double.doubleToLongBits(s2) ||
        (s1.isNaN && s2.isNaN)) && k1 == k2
    }

  test("groupBy topKSlots equals sort-take across k, partitionings, NaN ties") {
    for (seed <- 0 until 12) {
      val k = 1 + seed % 8
      val groups = 1 + seed % 5
      val rows = draw(seed, groups)
      val got = rows.toDF("g", "s", "t")
        .repartition(1 + (seed % 7)) // vary how partial buffers split
        .groupBy("g")
        .agg(TopKByScore.topKSlots(k)(col("s"), col("t")).as("tk"))
        .select(col("g"), col("tk.scores"), col("tk.keys"))
        .collect()
        .map(r => r.getLong(0) ->
          r.getSeq[Double](1).zip(r.getSeq[Long](2)).toSeq)
        .toMap
      val byGroup = rows.groupBy(_._1)
      assert(got.keySet == byGroup.keySet, s"seed=$seed")
      byGroup.foreach { case (g, rs) =>
        val want = sortTake(rs.map(x => (x._2, x._3)), k)
        val padded = want ++ Seq.fill(k - want.size)(
          (TopKSlots.SentinelScore, TopKSlots.SentinelKey))
        assert(eqPairs(got(g), padded), s"seed=$seed k=$k g=$g: ${got(g)} vs $padded")
      }
    }
  }

  test("topKSlots agrees with the imperative TopKAggExpr on NaN-free input") {
    // same data, both aggregates, identical trimmed (score, key) lists —
    // the two k>1 ranking paths must be interchangeable (−0.0/NaN edge
    // cases are documented divergences; the engine's callers filter or
    // never produce them)
    val rows = draw(99, 4).filterNot(_._2.isNaN)
    val df = rows.toDF("g", "s", "t").repartition(5)
    for (k <- Seq(1, 2, 3, 7)) {
      val slots = df.groupBy("g")
        .agg(TopKByScore.topKSlots(k)(col("s"), col("t")).as("tk"))
        .select(col("g"), col("tk.scores"), col("tk.keys")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).zip(r.getSeq[Long](2))
          .filter(_._1 != TopKSlots.SentinelScore).toSeq).toMap
      val imper = df.groupBy("g")
        .agg(TopKByScore.topK(k)(col("s"), col("t")).as("tk"))
        .select(col("g"), col("tk.scores"), col("tk.keys")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).zip(r.getSeq[Long](2)).toSeq).toMap
      assert(slots == imper, s"k=$k")
    }
  }

  test("topKSlots plans as HashAggregate (codegen-fusible), not ObjectHashAggregate") {
    val df = Seq((1L, 2.0, 3L)).toDF("g", "s", "t")
      .groupBy("g").agg(TopKByScore.topKSlots(3)(col("s"), col("t")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"), plan)
  }

  test("null score or key rows are skipped, not inserted") {
    val df = Seq(
      (1L, Some(5.0), Some(10L)), (1L, None, Some(11L)), (1L, Some(7.0), None),
      (1L, Some(6.0), Some(12L)))
      .toDF("g", "s", "t")
    val r = df.groupBy("g")
      .agg(TopKByScore.topKSlots(2)(col("s"), col("t")).as("tk"))
      .select(col("tk.scores"), col("tk.keys")).head()
    assert(r.getSeq[Double](0) == Seq(6.0, 5.0) && r.getSeq[Long](1) == Seq(12L, 10L))
  }

  test("TopK.ranked equals sort-take on all three branches") {
    // long and int keys take the aggregates (slots to JitK, imperative
    // past it); string keys take the window — one reference for all
    val ks = Seq(1, TopKSlots.JitK, TopKSlots.JitK + 1, TopKSlots.MaxK + 3)
    for (seed <- 0 until 4; k <- ks; keyType <- Seq("long", "int", "string")) {
      // group 9 holds two rows: fewer than k for every k > 2
      val rows = draw(seed, 1 + seed % 3) ++ Seq((9L, 0.5, 3L), (9L, Double.NaN, 4L))
      def keyOf(t: Long): Any = keyType match {
        case "long" => t
        case "int" => t.toInt
        case _ => f"k$t%02d" // zero-padded: string order = numeric order
      }
      val df = rows.toDF("g", "s", "t").repartition(1 + seed % 3)
        .select(col("g"), col("s"),
          (if (keyType == "string") format_string("k%02d", col("t")) else col("t").cast(keyType))
            .as("key"))
      val out = TopK.ranked(df, Seq("g"), col("s"), "key", k)
      assert(out.columns.toSeq == Seq("g", "key", "score", "rank"))
      assert(out.schema("key").dataType == df.schema("key").dataType)
      val got = out.collect().groupBy(_.getLong(0)).map { case (g, rs) =>
        g -> rs.sortBy(_.getInt(3)).map(r => (r.getDouble(2), r.get(1))).toSeq
      }
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        g -> sortTake(rs.map(x => (x._2, x._3)), k).map { case (sc, t) => (sc, keyOf(t)) }
      }
      val ctx = s"seed=$seed k=$k key=$keyType"
      assert(got.keySet == want.keySet, ctx)
      for ((g, w) <- want) {
        assert(got(g).map(_._2) == w.map(_._2), s"$ctx g=$g")
        assert(got(g).map(_._1).zip(w.map(_._1)).forall { case (a, b) =>
          a == b || (a.isNaN && b.isNaN) }, s"$ctx g=$g")
      }
    }
  }

  test("JitK is the largest k whose TopKSlots partial-aggregate stage JIT-compiles") {
    // the score is computed in the aggregate's input, as Retrieval's
    // guarded score is (a score column projected earlier, as Similarity's
    // cosine is, measures ~200 B less per k: 7979 B at k = 5)
    def updateBytes(k: Int): Int = CodegenSize.maxMethodBytes(
      spark.range(0, 1000, 1, 2)
        .select((col("id") % 7).as("g"), (col("id") % 13).cast("double").as("s"), col("id").as("t"))
        .groupBy("g").agg(TopKByScore.topKSlots(k)(round(col("s") / 3.0, 4), col("t"))),
      "partial_topk_slots")
    val atJitK = updateBytes(TopKSlots.JitK)
    val past = updateBytes(TopKSlots.JitK + 1)
    assert(atJitK <= CodegenSize.HugeMethodLimit, s"k = JitK: $atJitK B")
    assert(past > CodegenSize.HugeMethodLimit, s"k = JitK + 1: $past B")
  }
}
