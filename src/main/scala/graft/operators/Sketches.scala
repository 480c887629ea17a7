package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Distinct-count sketching via KMV (k minimum values) — the classic
 * bottom-k estimator (Bar-Yossef et al., "Counting distinct elements in
 * a data stream", RANDOM 2002): hash every value uniformly into [0, 2^B),
 * keep the k smallest DISTINCT hashes per group, and estimate
 * |distinct| ≈ (k−1) · 2^B / h_k where h_k is the k-th smallest hash.
 * The reference engine has nothing approximate — its counts are exact
 * in-memory dict sizes (reference: src/mcp_server_tree_sitter/tools/
 * analysis.py:63-112) — but at 100 TB an exact global distinct is a
 * full shuffle of every value; a KMV sketch ships k longs per group.
 *
 * Why not HyperLogLog (Spark's approx_count_distinct): not oracle-able —
 * no two engines agree register-for-register. KMV is EXACTLY
 * reproducible in plain SQL (row_number over distinct hashes), and this
 * implementation keeps every step integer-exact so DuckDB matches
 * bit-for-bit:
 *  - hash = first 13 hex chars of md5 (the only portable hash) = 52
 *    uniform bits — small enough that a LONG→DOUBLE round-trip through
 *    [[TopKSlots]]'s score channel is exact (2^52 < 2^53);
 *  - the estimator is integer division ((k−1) · 2^52) / h_k — no
 *    float rounding to diverge on.
 *
 * Plan shape (both stages map-side partial, k-bounded exchange state):
 *  1. distinct (group, hash) — the narrow-row distinct shuffle Spark
 *     partial-aggregates automatically;
 *  2. groupBy(group) with [[TopK.aggregate]] on (score = −hash,
 *     key = hash): the bottom-k of billions of hashes costs k doubles +
 *     k longs per group in the exchange.
 *
 * Sketches are mergeable (union the slot arrays, re-take bottom-k), so
 * per-partition / per-day sketches roll up without rescanning — the
 * property that makes KMV a layout-friendly 100-TB citizen.
 */
object Sketches {
  /** Hash bits: 13 hex chars of md5 = 52 bits, double-exact. */
  val HashBits: Int = 52
  private val Scale: Long = 1L << HashBits

  /** Portable 52-bit value hash of a STRING or BINARY column (identical
   * in DuckDB: `CAST(('0x' || substr(md5(v), 1, 13)) AS BIGINT)`), built
   * by the codegen'd md5-prefix kernel [[graft.functions.md5_prefix]]
   * (`Md5PrefixExpr`): the top 52 bits of the digest, with no hex string,
   * substring or `conv` per row. */
  def portableHash52(value: Column): Column = graft.functions.md5_prefix(value, HashBits)

  /**
   * Per-group KMV distinct-count estimate of `valueCol` (a string
   * column; hash non-strings yourself via [[portableHash52]]-compatible
   * casts upstream). Output: group columns + `distinct_hashes` (number
   * of live sketch slots, = min(k, true distinct)) + `est_distinct`
   * (exact count when the group has < k distinct values — the sketch
   * IS the set then — else the KMV estimate, floored to BIGINT).
   */
  def kmvDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int = 16): DataFrame =
    estimate(kmvSketch(df, groupCols, valueCol, k), k)

  /**
   * Per-group KMV sketch as a carryable column `__kmv` (struct of the
   * bottom-k slot arrays) — the MERGEABLE form: materialize per-partition
   * / per-day / per-source sketches once, roll them up later with
   * [[kmvMerge]] without rescanning the data.
   */
  def kmvSketch(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 1024, s"k must be in [2, 1024] (got $k)")
    val hv = portableHash52(col(valueCol))
    val hashes = df
      .select(groupCols.map(col) :+ hv.as("__kmv_h"): _*)
      .where(col("__kmv_h").isNotNull)
      .distinct()
    aggSlots(hashes, groupCols, k)
  }

  /**
   * Roll per-group sketches up to a COARSER grouping (empty = global).
   * Exact, not approximate-on-approximate: a hash in the coarse bottom-k
   * is in its fine group's bottom-k too (it is among the smallest of a
   * superset), so explode → dedup → re-take bottom-k reproduces exactly
   * the sketch a direct pass over the coarse group would build — pinned
   * by SketchesSpec. The dedup matters: the same value appearing in
   * several fine groups carries the same hash, and bottom-k over a
   * MULTISET would double-count it.
   *
   * Exactness needs every fine sketch's k to be >= the coarse `k`
   * (bottom-k of bottom-k' is bottom-k only when k' >= k).
   */
  def kmvMerge(sketches: DataFrame, coarseGroupCols: Seq[String], k: Int): DataFrame = {
    val hashes = sketches
      .select(coarseGroupCols.map(col) :+
        explode(col("__kmv").getField("keys")).as("__kmv_h"): _*)
      .where(col("__kmv_h") < TopKSlots.SentinelKey)
      .distinct()
    estimate(aggSlots(hashes, coarseGroupCols, k), k)
  }

  /** Bottom-k of `__kmv_h` per group as the [[TopK.aggregate]] struct
   * (score = −hash descending, so `keys` come out hash-ascending; 52-bit
   * magnitudes round-trip a double exactly, so the negated score loses
   * nothing). */
  private def aggSlots(hashes: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    hashes.groupBy(groupCols.map(col): _*)
      .agg(TopK.aggregate(k)(negate(col("__kmv_h").cast("double")), col("__kmv_h")).as("__kmv"))

  // ======== Bucket-minima distinct sketch (stochastic averaging) =========

  /** log2(k) for the power-of-two bucket counts the minima sketch needs
   * (low `bits` of the hash = bucket, the rest = the reduced hash — both
   * exactly uniform and independent only when k divides the hash range). */
  private def log2Pow2(k: Int): Int = {
    require(k >= 2 && k <= 1024 && Integer.bitCount(k) == 1,
      s"k must be a power of two in [2, 1024] (got $k)")
    Integer.numberOfTrailingZeros(k)
  }

  /**
   * Distinct-count sketch over BUCKET MINIMA — stochastic averaging
   * (Flajolet & Martin's PCSA trick; the order-statistics estimator
   * family is analyzed in Giroire, "Order statistics and estimating
   * cardinalities of massive data sets", Discrete Applied Mathematics
   * 157(2), 2009): split the hash into bucket = low log2(k) bits and a
   * reduced hash rh = the remaining 52−log2(k) bits, keep min(rh) per
   * (group, bucket). Relative error is O(1/sqrt(k)), the same order as
   * bottom-k KMV at equal k.
   *
   * Why this exists next to [[kmvSketch]] — the REALISTIC-k scale path
   * (k = 256–1024, where KMV error bounds get useful):
   *  - the aggregate is a plain long `min`, so `HashAggregateExec` fuses
   *    the partial aggregation into the whole-stage-codegen span at ANY
   *    k. Bottom-k slots are declarative (codegen-fused) only to
   *    k = [[TopKSlots.MaxK]] = 16; beyond that KMV rides the imperative
   *    [[TopKAggExpr]], forcing ObjectHashAggregate whose span-boundary
   *    row copies the repo profiled at ~100 GB/child (SCALE.md) — the
   *    measured k = 256 numbers live in [[graft.SketchBench]]/SCALE.md;
   *  - no distinct pre-pass: duplicate values share a hash and `min`
   *    absorbs them, so the ONLY shuffle is the map-side-combined
   *    partial-min exchange, at most k rows per group per map task
   *    (kmvSketch must first shuffle EVERY distinct value for its
   *    `.distinct()`);
   *  - sketches merge by min-of-mins — exact, any number of times, so
   *    per-partition / per-day sketches roll up without rescanning
   *    (pinned by SketchesSpec).
   *
   * Output: group cols + `__mb_bucket` + `__mb_min` (k rows per group at
   * most — hit buckets only; [[minBucketEstimate]] supplies the empty-
   * bucket convention min = S' = 2^(52−log2 k), the min of zero draws).
   */
  def minBucketSketch(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int): DataFrame = {
    val bits = log2Pow2(k)
    val hv = portableHash52(col(valueCol))
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ hv.as("__mb_h"): _*)
      .select(groupCols.map(col) :+
        col("__mb_h").bitwiseAND(lit((k - 1).toLong)).as("__mb_bucket") :+
        shiftright(col("__mb_h"), bits).as("__mb_rh"): _*)
      .groupBy((groupCols :+ "__mb_bucket").map(col): _*)
      .agg(min("__mb_rh").as("__mb_min"))
  }

  /** Roll bucket-minima sketches up to a COARSER grouping (empty =
   * global) by min-of-mins per bucket — exact: the coarse bucket's
   * minimum IS the min over its fine groups' minima (same hash, same
   * bucket split), so rollups reproduce the direct coarse sketch
   * bit-for-bit. All inputs must share k. */
  def minBucketMerge(sketches: DataFrame, coarseGroupCols: Seq[String]): DataFrame =
    sketches.groupBy((coarseGroupCols :+ "__mb_bucket").map(col): _*)
      .agg(min("__mb_min").as("__mb_min"))

  /**
   * Estimator columns from a bucket-minima sketch: group cols +
   * `buckets_hit` + `est_distinct`. Method of moments on the sum of
   * minima with an occupancy-ratio bias correction: a bucket holding
   * n_i of the n distinct values has E[min] = S′/(n_i+1) (S′ =
   * 2^(52−log2 k), the reduced-hash range; an empty bucket contributes
   * S′, the min of zero draws). Naively inverting E[Σ] ≈ S′·k²/(n+k)
   * under-estimates badly at moderate occupancy (measured −17% at
   * n/k ≈ 6): Jensen on 1/(n_i+1) over the binomial bucket loads makes
   * E[Σ] = S′·k²·(1−q)/(n+1) with q = (1−1/k)^(n+1), not S′·k²/(n+k).
   * But E[buckets_hit] = k·(1−(1−1/k)^n) ≈ k·(1−q) carries the SAME
   * factor, so the ratio cancels it to first order:
   *   n̂ = (S′·k·buckets_hit) div Σ − 1 = (2^52·buckets_hit) div Σ − 1
   * (simulated mean bias < 1% from n = k/8 to n = 400·k; std ≈ 1/√k).
   * All-integer — 2^52·hits ≤ 2^62 at k ≤ 1024 — so DuckDB replays it
   * bit-for-bit (HUGEINT sum, `//`). The final `greatest(n̂,
   * buckets_hit)` keeps the n ≪ k regime exact: each hit bucket proves
   * ≥ 1 distinct value and collisions are rare there — the same shape
   * as HyperLogLog's linear-counting small-range correction (Whang et
   * al. 1990).
   */
  def minBucketEstimate(sketch: DataFrame, k: Int): DataFrame = {
    val bits = log2Pow2(k)
    val sPrime = 1L << (HashBits - bits)
    val groupCols =
      sketch.columns.filterNot(c => c == "__mb_bucket" || c == "__mb_min").toSeq
    sketch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("buckets_hit"), sum("__mb_min").as("__mb_sum_hit"))
      // Σ over ALL k buckets: hit minima + S' per empty bucket. Bounded by
      // k·S' = 2^52, so the long sum cannot overflow (ANSI-safe).
      .withColumn("__mb_sum",
        col("__mb_sum_hit") + (lit(k.toLong) - col("buckets_hit")) * lit(sPrime))
      .withColumn("est_distinct",
        greatest(
          expr(s"(${Scale}L * buckets_hit) div greatest(__mb_sum, 1L) - 1L"),
          col("buckets_hit")))
      .drop("__mb_sum_hit", "__mb_sum")
  }

  /** Per-group distinct-count estimate via bucket minima — the
   * realistic-k counterpart of [[kmvDistinct]] (see [[minBucketSketch]]
   * for why it is the 100-TB path at k > [[TopKSlots.MaxK]]). */
  def minBucketDistinct(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      k: Int = 256): DataFrame =
    minBucketEstimate(minBucketSketch(df, groupCols, valueCol, k), k)

  // ======== Count–Min sketch (frequency) ==================================

  /** Portable CMS bucket for hash row `i`: md5("i:" + value) → 52 bits →
   * mod `width` (DuckDB: `('0x' || substr(md5(i || ':' || v), 1, 13))::BIGINT
   * % width`). Row-index-prefixing the input gives `depth` pairwise
   * independent-enough hash rows from the one portable hash. */
  private def cmsBucket(i: Int, value: Column, width: Int): Column =
    pmod(portableHash52(concat(lit(s"$i:"), value)), lit(width.toLong))

  /**
   * Count–Min sketch (Cormode & Muthukrishnan, "An improved data stream
   * summary: the count-min sketch and its applications", J. Algorithms
   * 2005) as a RELATION: per group, `depth` × `width` counters stored as
   * rows (h, bucket, cnt) — at most depth·width rows per group no matter
   * how many input rows fed it. Point-frequency estimates read
   * min over h of the value's bucket counters: always ≥ the true count,
   * over by ≤ ⌈e·N/width⌉ with probability 1−e^−depth (the paper's
   * bound). The heavy-hitter screen at 100 TB: build per-source/per-day
   * sketches map-side (one narrow groupBy), [[cmsMerge]] them by plain
   * addition without rescanning, then [[cmsEstimate]] candidate keys
   * against a sketch that broadcasts (depth·width rows), instead of
   * shuffling a full per-key count of the corpus.
   *
   * Every counter is an exact long over portable md5-derived buckets, so
   * the whole sketch — and every estimate — replays bit-identically in
   * DuckDB (oracle q106). Spark's own `count_min_sketch` builtin exists
   * but hashes with engine-private seeds; this one is cross-engine.
   */
  def cmsSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      depth: Int = 3, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8] (got $depth)")
    require(width >= 2 && width <= (1 << 20), s"width must be in [2, 2^20] (got $width)")
    val pairs = array((0 until depth).map(i =>
      struct(lit(i).as("h"), cmsBucket(i, col(valueCol), width).as("bucket"))): _*)
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ explode(pairs).as("__p"): _*)
      .select(groupCols.map(col) :+ col("__p.h").as("h") :+ col("__p.bucket").as("bucket"): _*)
      .groupBy((groupCols ++ Seq("h", "bucket")).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketches to a COARSER grouping (empty = global) by plain
   * counter addition — exact (counters are sums), any number of times.
   * All inputs must share (depth, width). */
  def cmsMerge(sketches: DataFrame, coarseGroupCols: Seq[String]): DataFrame =
    sketches.groupBy((coarseGroupCols ++ Seq("h", "bucket")).map(col): _*)
      .agg(sum("cnt").as("cnt"))

  /**
   * Point-frequency estimates for `probes` (one row per candidate value;
   * duplicates collapse): min over the value's `depth` bucket counters,
   * 0 when every bucket is empty. Output: probe group cols + `valueCol`
   * + `est_count`. `depth`/`width` (and `groupCols`) must match the
   * sketch's build parameters. The sketch side is depth·width rows per
   * group — broadcast-sized by construction, so the join never shuffles
   * the probe side.
   */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, valueCol: String,
      depth: Int, width: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8] (got $depth)")
    val pairs = array((0 until depth).map(i =>
      struct(lit(i).as("h"), cmsBucket(i, col(valueCol), width).as("bucket"))): _*)
    val p = probes
      .select((groupCols :+ valueCol).map(col) :+ explode(pairs).as("__p"): _*)
      .select((groupCols :+ valueCol).map(col) :+
        col("__p.h").as("__ph") :+ col("__p.bucket").as("__pb"): _*)
    val joinCond = groupCols.map(g => p(g) === sketch(g))
      .foldLeft(p("__ph") === sketch("h") && p("__pb") === sketch("bucket"))(_ && _)
    p.join(sketch, joinCond, "left")
      .groupBy((groupCols :+ valueCol).map(p(_)): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
  }

  /** Estimator columns from a sketch frame: group cols + distinct_hashes
   * + est_distinct (exact below k — the sketch IS the set then). */
  private def estimate(sketch: DataFrame, k: Int): DataFrame = {
    // live slots carry keys < SentinelKey (hashes are 52-bit; TopKSlots
    // pads to k with the sentinel, TopKAggExpr trims — the filter counts
    // both shapes). element_at(.., k) = h_k stays inside the otherwise
    // branch: on a trimmed short array an eager lookup would THROW under
    // ANSI, and it is only defined when the sketch is full anyway.
    val keysArr = col("__kmv").getField("keys")
    val live = size(filter(keysArr, x => x < lit(TopKSlots.SentinelKey))).cast("long")
    val groupCols = sketch.columns.filterNot(_ == "__kmv").toSeq
    sketch.select(groupCols.map(col) :+ live.as("distinct_hashes") :+ col("__kmv"): _*)
      .withColumn("est_distinct",
        when(col("distinct_hashes") < k, col("distinct_hashes"))
          .otherwise(expr(s"${(k - 1).toLong * Scale}L div element_at(__kmv.keys, $k)")))
      .drop("__kmv")
  }
}
