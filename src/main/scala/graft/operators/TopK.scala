package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Mutable bounded top-k state: the first `n` slots of `scores`/`keys` are
 * live, sorted by (score desc, key asc); capacity-k arrays are allocated
 * ONCE per group, accepted rows shift in place, rejected rows touch
 * nothing — this state IS the hot path it exists to optimize.
 *
 * Ordering contract (identical to the `row_number` window it replaces):
 * score descending, key ascending on ties, compared with
 * `java.lang.Double.compare` semantics — NaN sorts as the LARGEST score
 * and -0.0 < 0.0, exactly Spark's double ordering, so the order is total
 * and merge stays associative even with NaN scores (0/0 cosines).
 */
final class TopKAggState(val k: Int) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val keys: Array[Long] = new Array[Long](k)

  /** (s1, k1) strictly before (s2, k2) in output order. */
  @inline private def better(s1: Double, k1: Long, s2: Double, k2: Long): Boolean = {
    val c = java.lang.Double.compare(s1, s2) // total: NaN largest, -0.0 < 0.0
    c > 0 || (c == 0 && k1 < k2)
  }

  def insert(s: Double, key: Long): Unit = {
    var pos = 0
    while (pos < n && !better(s, key, scores(pos), keys(pos))) pos += 1
    if (pos >= k) return
    val newN = math.min(n + 1, k)
    val shift = newN - pos - 1 // live entries moving right (drops the last if full)
    if (shift > 0) {
      System.arraycopy(scores, pos, scores, pos + 1, shift)
      System.arraycopy(keys, pos, keys, pos + 1, shift)
    }
    scores(pos) = s
    keys(pos) = key
    n = newN
  }

  /** Absorb every live entry of `other` (other is left untouched). */
  def mergeFrom(other: TopKAggState): Unit = {
    var i = 0
    while (i < other.n) { insert(other.scores(i), other.keys(i)); i += 1 }
  }
}

/**
 * Map-side partial top-k aggregation as a NATIVE Catalyst
 * TypedImperativeAggregate — the scale fix for the ANN/kNN ranking
 * stages. A `row_number` window shuffles EVERY scored candidate row
 * (corpus × |queries| at 100 TB); this aggregate runs inside
 * ObjectHashAggregate with partial aggregation, so each map task ships at
 * most k (score, key) pairs per query into the exchange, and the final
 * merge is k-bounded per group.
 *
 * Why native instead of a Dataset `Aggregator` via `udaf()` (the previous
 * shape): ScalaAggregator deserializes every input row into a boxed
 * `(Double, Long)` tuple before the reduce — ~3 heap allocations per
 * candidate row, hundreds of millions per kNN round. Allocation rate was
 * the measured 16-core scaling limiter of the iterative kNN bench (the
 * young gen fills faster than GC threads can clear it as cores grow).
 * Here the common case (bound attribute children, the only shape the
 * engine's callers produce) reads the two primitives straight off the
 * InternalRow: zero allocation for a rejected candidate, zero for an
 * accepted one (in-place shift).
 */
case class TopKAggExpr(
    k: Int,
    score: Expression,
    key: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAggState] with ExpectsInputTypes {
  require(k >= 1)

  override def children: Seq[Expression] = Seq(score, key)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("scores", ArrayType(DoubleType, containsNull = false)),
    StructField("keys", ArrayType(LongType, containsNull = false))))

  override def inputTypes = Seq(DoubleType, LongType)

  override def createAggregationBuffer(): TopKAggState = new TopKAggState(k)

  // after planning the children are BoundReferences (the engine's callers
  // pass plain columns); read primitives directly — no per-row boxing.
  // The eval fallback keeps arbitrary expressions correct.
  @transient private lazy val updateFn: (TopKAggState, InternalRow) => Unit =
    (score, key) match {
      case (sb: BoundReference, kb: BoundReference) =>
        (b, row) =>
          if (!row.isNullAt(sb.ordinal) && !row.isNullAt(kb.ordinal))
            b.insert(row.getDouble(sb.ordinal), row.getLong(kb.ordinal))
      case _ =>
        (b, row) => {
          val s = score.eval(row)
          val kk = key.eval(row)
          if (s != null && kk != null)
            b.insert(s.asInstanceOf[Double], kk.asInstanceOf[Long])
        }
    }

  override def update(b: TopKAggState, input: InternalRow): TopKAggState = {
    updateFn(b, input)
    b
  }

  override def merge(x: TopKAggState, y: TopKAggState): TopKAggState = {
    x.mergeFrom(y)
    x
  }

  override def eval(b: TopKAggState): Any = // trim to live length for output
    InternalRow(b.n,
      new GenericArrayData(java.util.Arrays.copyOf(b.scores, b.n)),
      new GenericArrayData(java.util.Arrays.copyOf(b.keys, b.n)))

  /** Spill/exchange format: [n:int][n doubles][n longs] (k rides the
   * expression, not the bytes). */
  override def serialize(b: TopKAggState): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + b.n * 16)
    bb.putInt(b.n)
    var i = 0
    while (i < b.n) { bb.putDouble(b.scores(i)); i += 1 }
    i = 0
    while (i < b.n) { bb.putLong(b.keys(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKAggState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val st = new TopKAggState(k)
    st.n = bb.getInt
    var i = 0
    while (i < st.n) { st.scores(i) = bb.getDouble; i += 1 }
    i = 0
    while (i < st.n) { st.keys(i) = bb.getLong; i += 1 }
    st
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAggExpr =
    copy(score = newChildren(0), key = newChildren(1))
  override def prettyName: String = "topk_by_score"
}

object TopKByScore {
  /** Column form: top-k (score desc, key asc) → struct(n, scores, keys). */
  def topK(k: Int)(score: Column, key: Column): Column =
    GraftBridge.column(
      TopKAggExpr(k, GraftBridge.expression(score), GraftBridge.expression(key))
        .toAggregateExpression())

  /** Column form of [[MaxScoreMinKey]]: → struct(best_score, best_key). */
  def best(score: Column, key: Column): Column =
    GraftBridge.column(
      MaxScoreMinKey(GraftBridge.expression(score), GraftBridge.expression(key))
        .toAggregateExpression())

  /** Column form of [[TopKSlots]]: → struct(scores: array[k], keys:
   * array[k]) — k-padded, sentinel = (-Infinity, Long.MaxValue). */
  def topKSlots(k: Int)(score: Column, key: Column): Column =
    GraftBridge.column(
      TopKSlots(k, GraftBridge.expression(score), GraftBridge.expression(key))
        .toAggregateExpression())
}

/**
 * The k = 1 case as a DECLARATIVE aggregate: (max score, min key among
 * max-score rows) over (DOUBLE, BIGINT) — i.e. the same (score desc,
 * key asc) contract as [[TopKAggExpr]], specialized to nearest-neighbor.
 *
 * Why it exists when TopKAggExpr already handles k = 1: buffer shape.
 * A typed-imperative aggregate forces ObjectHashAggregate, and the
 * whole-stage-codegen span feeding it must COPY every candidate row at
 * the span boundary (BufferedRowIterator materializes multi-output
 * spans) — profiled at ~100 GB of UnsafeRow copies per kNN bench child,
 * with the resulting GC a core-count-independent cost that capped N→4N
 * scaling. This aggregate's buffer is two mutable primitives, so
 * HashAggregateExec fuses the partial aggregation INTO the codegen span:
 * scan → explode → join → partial agg is one generated loop, zero
 * per-candidate allocation.
 *
 * Semantics notes: plain SQL comparisons — a NaN score never wins and
 * -0.0 ties 0.0 (callers must pre-filter NaN, as Knn does; TopKAggExpr
 * uses the total Double.compare order instead). Empty/never-updated
 * group ⇒ best_score = -Infinity — Knn's sentinel convention.
 */
case class MaxScoreMinKey(
    score: Expression,
    key: Expression)
  extends DeclarativeAggregate with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.dsl.expressions._
  import org.apache.spark.sql.catalyst.expressions._

  override def children: Seq[Expression] = Seq(score, key)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("best_score", DoubleType, nullable = false),
    StructField("best_key", LongType, nullable = false)))
  override def inputTypes = Seq(DoubleType, LongType)

  private lazy val bs = AttributeReference("bs", DoubleType, nullable = false)()
  private lazy val bk = AttributeReference("bk", LongType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bs, bk)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(Double.NegativeInfinity), Literal(Long.MaxValue))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = score.isNull || key.isNull
    Seq(
      If(skip, bs, If(GreaterThan(score, bs), score, bs)),
      If(skip, bk,
        If(GreaterThan(score, bs), key,
          If(EqualTo(score, bs), Least(Seq(bk, key)), bk))))
  }

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    If(GreaterThan(bs.right, bs.left), bs.right, bs.left),
    If(GreaterThan(bs.right, bs.left), bk.right,
      If(EqualTo(bs.right, bs.left), Least(Seq(bk.left, bk.right)), bk.left)))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("best_score"), bs, Literal("best_key"), bk))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MaxScoreMinKey =
    copy(score = newChildren(0), key = newChildren(1))
  override def prettyName: String = "max_score_min_key"
}

/**
 * General-k top-k as a DECLARATIVE aggregate over 2k fixed-width buffer
 * slots — [[MaxScoreMinKey]]'s construction generalized from 1 slot to k
 * (the SCALE.md follow-up that removes the k > 1 GC ceiling). The buffer
 * is k (double, long) pairs kept sorted (score desc, key asc), so every
 * field is a mutable primitive and `HashAggregateExec` fuses the partial
 * aggregation INTO the whole-stage-codegen span feeding it: a rejected
 * candidate costs two comparisons and zero allocation, exactly like the
 * k = 1 path. (The typed-imperative [[TopKAggExpr]] forces
 * ObjectHashAggregate, whose span boundary copies every candidate row —
 * profiled at ~100 GB/child of UnsafeRow copies on the kNN bench.)
 *
 * Update: the input pair's insert position is found by a per-slot
 * comparison chain — slot i keeps itself when it beats the input, takes
 * the input when slot i−1 beat it (or i = 0), else inherits slot i−1
 * (the in-place shift, as expressions). Linear in k, no branching blowup.
 *
 * Merge: slot m of the merged buffer is the m-th order statistic of the
 * two sorted buffers — `best over j of ( worse(left[j−1], right[m−j−1]) )`
 * (the classic sorted-merge split formula; j = elements taken from the
 * left). Pairs are compared through an orderable proxy struct
 * (order_key = −score with NaN → −∞, key), so `Least`/`Greatest` do the
 * pair selection natively and the whole merge is O(k²) expression nodes —
 * NOT the 3^k tree a nested CASE fold would build. Struct allocation
 * happens only per buffer MERGE (spill/final), never per input row.
 *
 * Ordering contract — Spark SQL's own double ordering (nanSafeCompare):
 * score descending with NaN as the LARGEST score, key ascending on ties,
 * and −0.0 == 0.0. This matches the `row_number` window it replaces
 * bit-for-bit except that [[TopKAggExpr]]'s Double.compare orders
 * −0.0 < 0.0 while this aggregate (like SQL comparison) ties them — the
 * engine's score producers never mix −0.0 and 0.0 (squared distances
 * yield a uniform −0.0 at zero; BigDecimal-rounded cosines are never
 * −0.0), so the two paths agree on all reachable inputs.
 *
 * Caller contract: scores must be finite or NaN. ±Infinity collides with
 * the empty-slot sentinel (−∞, Long.MaxValue) — pre-filter it, as Knn
 * and the ANN rankers do.
 */
case class TopKSlots(
    k: Int,
    score: Expression,
    key: Expression)
  extends DeclarativeAggregate with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions._
  require(k >= 1 && k <= TopKSlots.MaxK,
    s"TopKSlots supports 1 <= k <= ${TopKSlots.MaxK} (got $k); use TopKAggExpr beyond")

  override def children: Seq[Expression] = Seq(score, key)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("scores", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("keys", ArrayType(LongType, containsNull = false), nullable = false)))
  override def inputTypes = Seq(DoubleType, LongType)

  private lazy val ss = (0 until k).map(i =>
    AttributeReference(s"ts$i", DoubleType, nullable = false)())
  private lazy val ks = (0 until k).map(i =>
    AttributeReference(s"tk$i", LongType, nullable = false)())
  override lazy val aggBufferAttributes: Seq[AttributeReference] = ss ++ ks

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(k)(Literal(TopKSlots.SentinelScore)) ++
      Seq.fill(k)(Literal(TopKSlots.SentinelKey))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = Or(IsNull(score), IsNull(key))
    val inNaN = IsNaN(score)
    // slot i strictly better than the input pair, NaN-as-largest:
    // s_i > in  ∨  (s_i NaN ∧ in finite)  ∨  (tie ∧ k_i < in_key)
    def slotBetter(i: Int): Expression = Or(
      Or(GreaterThan(ss(i), score), And(IsNaN(ss(i)), Not(inNaN))),
      And(Or(EqualTo(ss(i), score), And(IsNaN(ss(i)), inNaN)),
        LessThan(ks(i), key)))
    // REJECT fast path: the buffer is sorted, so "worst slot strictly
    // better than the input" decides the overwhelmingly common case (a
    // top-k stream rejects ~all candidates once warm) with ONE slot
    // comparison — the shared guard tree is subexpression-eliminated to a
    // single evaluation across all 2k slot expressions, restoring the
    // O(1)-per-rejected-candidate cost the imperative TopKBuf gets from
    // its early-exit branch (measured 1.6× CPU at k = 3 without it: the
    // per-slot If chains made every rejection pay O(k) comparisons)
    val reject = Or(skip, slotBetter(k - 1))
    val newS = (0 until k).map { i =>
      val shifted = if (i == 0) score else If(slotBetter(i - 1), score, ss(i - 1))
      If(reject, ss(i), If(slotBetter(i), ss(i), shifted))
    }
    val newK = (0 until k).map { i =>
      val shifted = if (i == 0) key else If(slotBetter(i - 1), key, ks(i - 1))
      If(reject, ks(i), If(slotBetter(i), ks(i), shifted))
    }
    newS ++ newK
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val l = (0 until k).map(i => (ss(i).left: Expression, ks(i).left: Expression))
    val r = (0 until k).map(i => (ss(i).right: Expression, ks(i).right: Expression))
    val merged = TopKSlots.mergedSlots(k, l, r)
    merged.map(_._1) ++ merged.map(_._2)
  }

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("scores"), CreateArray(ss),
      Literal("keys"), CreateArray(ks)))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKSlots =
    copy(score = newChildren(0), key = newChildren(1))
  override def prettyName: String = "topk_slots"
}

object TopKSlots {
  import org.apache.spark.sql.catalyst.expressions._

  /** Empty-slot sentinel: sorts strictly after every finite-or-NaN score. */
  val SentinelScore: Double = Double.NegativeInfinity
  val SentinelKey: Long = Long.MaxValue

  /** Hard constructor cap: beyond this the O(k²) merge-expression tree
   * is unreasonable to even generate — [[TopKAggExpr]]
   * (ObjectHashAggregate) takes over. */
  val MaxK: Int = 16

  /** Largest k whose GENERATED UPDATE METHOD stays under the JVM's
   * 8000-byte JIT huge-method limit (-XX:HugeMethodLimit, not tunable
   * without -XX:-DontCompileHugeMethods): the partial-aggregate stage's
   * largest method measures 6344 B at k = 4, 8179 B at k = 5 and
   * 28481 B at k = 16 with a computed score (Spark 4.1.2; a plain score
   * column reads 7979 B at k = 5, right at the edge). Past the limit
   * ("Generated method too long to be JIT compiled") the whole-stage span
   * containing the aggregate runs INTERPRETED — measured 77 s (k = 8)
   * and 132 s (k = 16) vs 13 s imperative for the same 100M-row
   * bottom-k build, a 6–10× cliff that erases the fusion win. [[TopK]]
   * owns the routing (the declarative form only for k ≤ JitK); Knn's
   * size-aware path router is the only other reader. k = JitK+1..MaxK
   * remains constructible for path-equality specs and forced-path
   * debugging; `TopKSlotsSpec` pins the limit. */
  val JitK: Int = 4

  /** Orderable proxy: ascending (order_key, key) == (score desc with NaN
   * largest, key asc). order_key = −score, except NaN → −∞ (negation
   * alone would send NaN last; finite scores can never produce −∞). */
  private def proxy(s: Expression, kk: Expression): Expression =
    CreateNamedStruct(Seq(
      Literal("o"), If(IsNaN(s), Literal(Double.NegativeInfinity), UnaryMinus(s)),
      Literal("t"), kk))

  private def unproxyScore(p: Expression): Expression = {
    val o = GetStructField(p, 0, Some("o"))
    // −∞ order_key can only be a NaN score (contract: no +∞ scores)
    If(EqualTo(o, Literal(Double.NegativeInfinity)), Literal(Double.NaN), UnaryMinus(o))
  }

  /**
   * Slot m (1-based, m = 1..k) of the sorted merge of two k-slot sorted
   * buffers, for all m — the order-statistic split formula: taking j
   * elements from the left and m−j from the right, the m-th element is
   * the worse of the two subsequences' last elements; the true m-th is
   * the best of that over all valid splits. Sentinel-padded slots are
   * ordinary worst-possible elements, so no length bookkeeping is needed.
   */
  private[operators] def mergedSlots(
      k: Int,
      l: Seq[(Expression, Expression)],
      r: Seq[(Expression, Expression)]): Seq[(Expression, Expression)] = {
    val lp = l.map { case (s, kk) => proxy(s, kk) }
    val rp = r.map { case (s, kk) => proxy(s, kk) }
    (1 to k).map { m =>
      val cands = (0 to m).map { j =>
        if (j == 0) rp(m - 1) // nothing from the left
        else if (j == m) lp(m - 1) // nothing from the right
        else Greatest(Seq(lp(j - 1), rp(m - j - 1)))
      }
      val best = Least(cands)
      (unproxyScore(best), GetStructField(best, 1, Some("t")))
    }
  }
}

/**
 * The one owner of grouped top-k. Every ranked output the engine emits —
 * ANN, keyword search, per-group caps, KMV sketches — follows one
 * ordering contract, score descending, key ascending, and this object
 * picks the aggregate that implements it:
 *  - an integral key with k ≤ [[TopKSlots.JitK]]: the declarative
 *    [[TopKSlots]], whose fixed-width buffer fuses the partial
 *    aggregation into the scoring codegen span (zero per-candidate
 *    allocation);
 *  - an integral key with larger k: the imperative [[TopKAggExpr]]
 *    (past JitK the slots' update method runs interpreted);
 *  - any other key: a `row_number` window — the same order, but every
 *    candidate row shuffles.
 * Both aggregates ship at most k (score, key) pairs per group per map
 * task into the exchange, so no window partition ever sees a hot group
 * whole. Knn folds its own per-round buffers but shares [[integralKey]]
 * and [[explodeSlots]].
 *
 * Caller contract: scores are DOUBLE and finite or NaN (NaN ranks
 * first); −∞ is the aggregates' empty-slot sentinel.
 */
object TopK {
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Key types that round-trip losslessly through the aggregates' BIGINT
   * key channel. */
  def integralKey(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** The aggregate for a BIGINT `key` → struct(scores, keys), sorted
   * (score desc, key asc). [[TopKSlots]] pads to k with (SentinelScore,
   * SentinelKey); [[TopKAggExpr]] trims to the live length. */
  def aggregate(k: Int)(score: Column, key: Column): Column =
    if (k <= TopKSlots.JitK) TopKByScore.topKSlots(k)(score, key)
    else TopKByScore.topK(k)(score, key)

  /** One row per slot of the top-k struct column `buf`: the `carry`
   * columns, then `key`, `score` and `rank` = slot + 1. `dropSentinels`
   * removes slots holding [[TopKSlots.SentinelScore]]. */
  def explodeSlots(df: DataFrame, carry: Seq[String], buf: String,
      key: String, score: String, dropSentinels: Boolean): DataFrame = {
    val slots = df.select(carry.map(col) :+ col(s"$buf.scores").as("__ss") :+
      posexplode(col(s"$buf.keys")).as(Seq("__pos", key)): _*)
    val s = element_at(col("__ss"), col("__pos") + 1)
    (if (dropSentinels) slots.where(s =!= lit(TopKSlots.SentinelScore)) else slots)
      .select(carry.map(col) :+ col(key) :+ s.as(score) :+ (col("__pos") + 1).as("rank"): _*)
  }

  /**
   * Ranked top-k per group: `(groupCols…, key, score, rank)` with at most
   * k rows per group, rank 1-based by (score desc, key asc). The key
   * keeps its input type; `score` is a DOUBLE column expression.
   */
  def ranked(df: DataFrame, groupCols: Seq[String], score: Column, key: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val keyType = df.schema(key).dataType
    // only TopKSlots pads: TopKAggExpr's arrays need no sentinel filter
    if (integralKey(keyType))
      explodeSlots(
        df.groupBy(groupCols.map(col): _*)
          .agg(aggregate(k)(score, col(key).cast(LongType)).as("__tk")),
        groupCols, "__tk", key, "score", dropSentinels = k <= TopKSlots.JitK)
        .withColumn(key, col(key).cast(keyType))
    else
      df.select(groupCols.map(col) :+ col(key) :+ score.as("score"): _*)
        .withColumn("rank", row_number().over(Window.partitionBy(groupCols.map(col): _*)
          .orderBy(col("score").desc, col(key))))
        .where(col("rank") <= k)
  }
}
