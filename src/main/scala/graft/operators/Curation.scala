package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints.{materialize, scope}

/**
 * Corpus-curation primitives: deterministic sampling / source mixing and
 * per-group quantile thresholding — the two decisions every
 * training-data pipeline applies between "raw crawl" and "training mix"
 * (downsample over-represented sources, keep only above-quality-cutoff
 * documents). The reference has per-group sampling only as a driver-side
 * `collections + slice` (reference: src/mcp_server_tree_sitter/tools/
 * analysis.py:544-557, A6/W3); these are its corpus-scale forms.
 *
 * Determinism is the design center: the keep/drop decision for a row is
 * a PURE FUNCTION of (key, salt) — `md5`-prefix hash (the portable hash)
 * under a fixed threshold — so reruns, retried stages, and incremental
 * waves all agree row-by-row (no `rand()`, whose per-task seeds change
 * under retry and repartition: a retried stage would sample a DIFFERENT
 * subset, silently corrupting an incremental corpus). The same property
 * makes samples REPRODUCIBLE across engines — DuckDB recomputes the
 * identical subset from the identical expression (q82).
 *
 * Scale: sampling is a stateless scan-side filter (no shuffle, pushes
 * nothing, prunes early); mixing adds only a literal CASE over the
 * config-sized rate map. Quantile thresholds need one aggregation over
 * the value column + a broadcast-sized (|groups| rows) join back.
 */
object Curation {
  private val Scale: Long = 1L << Sketches.HashBits

  /** Threshold form of `rate` ∈ [0, 1]: keep iff hash52 < floor(rate·2^52).
   * Exposed so oracles can inline the exact same literal. */
  def rateThreshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1] (got $rate)")
    math.min((rate * Scale).toLong, Scale)
  }

  /** Deterministic keep decision for (key, salt) at `rate`. The salt
   * namespaces experiments: different salts give independent samples of
   * the same corpus; the same salt is stable forever. */
  def hashKeep(key: Column, rate: Double, salt: String): Column =
    Sketches.portableHash52(concat(key.cast("string"), lit(":" + salt))) <
      lit(rateThreshold(rate))

  /** Uniform deterministic sample of `df` at `rate` keyed by `keyCol`. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double, salt: String): DataFrame =
    df.where(hashKeep(col(keyCol), rate, salt))

  /** Exact integer split bounds for [[splitByGroup]]: (name, lo, hi) with
   * split i owning hash range [lo, hi) and hi_last = 2^52. Computed with
   * BigInt (no float drift, no overflow) and exposed so oracles inline
   * the identical literals. */
  def splitBounds(splits: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
    require(splits.nonEmpty && splits.forall(_._2 > 0),
      s"splits need positive weights (got $splits)")
    require(splits.map(_._1).distinct.size == splits.size, "split names must be unique")
    val total = splits.map(_._2).sum
    val his = splits.scanLeft(0L)(_ + _._2).tail
      .map(c => (BigInt(c) * BigInt(Scale) / BigInt(total)).toLong)
    splits.map(_._1).lazyZip(0L +: his.init).lazyZip(his).map((n, lo, hi) => (n, lo, hi))
  }

  /**
   * Leakage-safe dataset split: assign every row to a named split
   * (train/valid/test…) by hashing a GROUP key — the url host, the
   * source domain — so ALL rows of a group land in the same split.
   * Row-level random splits leak: near-duplicate pages from one site
   * straddle train and eval and inflate benchmarks (the standard
   * web-corpus failure); the group-level hash makes that impossible by
   * construction. Deterministic per (group, salt): retries, re-runs and
   * incremental additions preserve every existing assignment — rows
   * added to a known group join its split; different salts give
   * independent splits of the same corpus.
   *
   * Weights are exact integers: split i owns hash range
   * [⌊cum_{i−1}·2^52/total⌋, ⌊cum_i·2^52/total⌋) over the portable
   * 52-bit hash — no float drift, DuckDB-replayable (oracle q108).
   *
   * Scale: a literal CASE chain over one hash — stateless scan-side
   * projection, no shuffle, no join, no state.
   */
  def splitByGroup(df: DataFrame, groupCol: String, splits: Seq[(String, Long)],
      salt: String): DataFrame = {
    val h = Sketches.portableHash52(concat(col(groupCol).cast("string"), lit(":" + salt)))
    val bounds = splitBounds(splits)
    val assign = bounds.init.foldRight(lit(bounds.last._1): Column) {
      case ((n, _, hi), acc) => when(h < hi, n).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /**
   * Source mixing: per-`sourceCol` sampling rates (missing sources use
   * `defaultRate`). The rate map is configuration (pipeline mix weights),
   * so it compiles into a literal CASE chain — no join, no broadcast,
   * scan-side filter. Deterministic per (key, salt) as above.
   */
  def mixCorpus(
      df: DataFrame,
      sourceCol: String,
      keyCol: String,
      rates: Map[String, Double],
      defaultRate: Double,
      salt: String): DataFrame = {
    val threshold = rates.foldLeft(lit(rateThreshold(defaultRate))) {
      case (acc, (src, rate)) =>
        when(col(sourceCol) === src, lit(rateThreshold(rate))).otherwise(acc)
    }
    val h = Sketches.portableHash52(concat(col(keyCol).cast("string"), lit(":" + salt)))
    df.where(h < threshold)
  }

  /**
   * Keep rows whose LongType `valueCol` is at-or-above their group's
   * `q`-quantile (exact, interpolated). PORTABILITY CONTRACT: `q` must
   * be a quarter (0.25 / 0.5 / 0.75) — with integer values, the
   * (n−1)·q index convention (shared by Spark `percentile` and DuckDB
   * `quantile_cont`) then interpolates with exact binary fractions, so
   * both engines produce bit-identical doubles (measured: q = 0.9
   * diverges in the last ulp — 43.999999999999986 vs 44.0).
   *
   * Scale note: exact percentile aggregates the full value multiset per
   * group — right for oracle-able curation cutoffs over bounded value
   * domains (scores, cents). For unbounded domains at 100 TB use
   * `approxThresholds = true` (t-digest `approx_percentile`, bounded
   * state; no cross-engine oracle). The threshold table is |groups|
   * rows → broadcast join back.
   */
  def quantileThreshold(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      q: Double,
      approxThresholds: Boolean = false): DataFrame = {
    require(Seq(0.25, 0.5, 0.75).contains(q) || approxThresholds,
      s"exact cross-engine quantiles are only portable at quarters (got $q); " +
        "use approxThresholds = true for other q")
    require(df.schema(valueCol).dataType == org.apache.spark.sql.types.LongType,
      s"$valueCol must be BIGINT (exact quantile arithmetic)")
    val thrExpr =
      if (approxThresholds) approx_percentile(col(valueCol), lit(q), lit(10000)).cast("double")
      else percentile(col(valueCol), lit(q))
    val thresholds = df.groupBy(groupCols.map(col): _*)
      .agg(thrExpr.as("__cur_thr"))
    df.join(broadcast(thresholds), groupCols)
      .where(col(valueCol) >= col("__cur_thr"))
      .drop("__cur_thr")
  }

  /**
   * Per-group corpus cap: keep at most `maxPerGroup` rows per group
   * (domain balancing — the standard guard against one crawl domain
   * dominating the training mix). Which rows survive is a deterministic
   * uniform choice: ascending portable hash of `(key, salt)`, ties by
   * key — so reruns, retries, and other engines pick the identical
   * subset, and different salts draw independent subsets.
   *
   * Scale shape: the kept `(group, key)` set (≤ |groups|·k rows) comes
   * from [[TopK.ranked]] (score = −hash), then left-semi joins back. With
   * an integral key that is a map-side partial top-k: every map task
   * forwards at most `maxPerGroup` pairs per group to the exchange, so a
   * hot domain with 10^9 pages costs the shuffle only k rows per task.
   * Other keys rank in a row_number window — correct, but the hot
   * group's rows all meet in one partition.
   *
   * Precondition: `keyCol` is unique per row (it is the document
   * identity); duplicate keys inside a group would survive the semi-join
   * together and overshoot the cap.
   */
  def capPerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      maxPerGroup: Int,
      salt: String): DataFrame = {
    require(maxPerGroup >= 1, s"maxPerGroup must be >= 1 (got $maxPerGroup)")
    val h = Sketches.portableHash52(concat(col(keyCol).cast("string"), lit(":" + salt)))
    // hashes are < 2^52, so −hash is double-exact: the top-k largest
    // scores are the k smallest hashes, ranked (hash asc, key asc)
    val kept = TopK.ranked(df.select(col(groupCol), h.cast("double").as("__h"), col(keyCol)),
        Seq(groupCol), -col("__h"), keyCol, maxPerGroup)
      .select(groupCol, keyCol)
    df.join(kept, Seq(groupCol, keyCol), "left_semi")
  }

  /**
   * Benchmark decontamination: count, per corpus document, the distinct
   * word n-grams it shares with a benchmark/eval set — the standard
   * leakage screen a training pipeline runs before a corpus ships
   * (exact n-gram overlap, the decontamination unit used by public LLM
   * data reports; n = 8..13 word grams in practice, parameterized here).
   * Returns `(keyCol, n_hits)` with one row per CONTAMINATED document;
   * clean documents drop out (inner join), so `n_hits >= 1`.
   *
   * Scale shape: the benchmark side is eval sets — thousands of
   * documents, ~10^6 distinct grams — so it is exploded, deduplicated
   * and BROADCAST; the corpus side streams through explode → broadcast
   * hash probe → partial-aggregated count, one corpus scan and one
   * narrow `(key, count)` shuffle, no corpus-side gram shuffle. The
   * broadcast hash set plays the role a Bloom filter would at this
   * size (exact, and the probe side is already a hash lookup). The
   * benchmark side is always broadcast: an eval set is config-sized by
   * contract, the same precondition [[decontaminateFilter]] states.
   *
   * Grams are distinct per document on BOTH sides ([[TextAnalysis.ngramsOf]]),
   * so `count(*)` after the join is exactly "distinct shared grams", and a
   * gram repeated across many benchmark docs counts once.
   */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      keyCol: String,
      textCol: String,
      n: Int): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.withColumn("__ts", TextAnalysis.tokens(col(textCol)))
        .select(cols :+ explode(TextAnalysis.ngramsOf(col("__ts"), n)).as("__gram"): _*)
    grams(corpus, col(keyCol))
      .join(broadcast(grams(benchmark).distinct()), "__gram")
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /**
   * Stream-composable decontamination FILTER — the scan-side form of
   * [[decontaminate]]: the benchmark's distinct word n-grams are
   * collected once into a broadcast literal and the probe is a plain
   * `arrays_overlap` over each document's gram array, so the whole
   * screen is a stateless projection+filter — no join, no aggregation —
   * that composes with `readStream` in append mode (the join+groupBy
   * form is a streaming aggregation, which append mode rejects) and
   * with any batch plan as a pushable filter.
   *
   * Precondition: the benchmark is CONFIG-SIZED (eval sets are, by
   * definition — thousands of docs, not a corpus): its gram set is
   * collected to the driver and shipped with the task closure like any
   * broadcast literal. For corpus-scale benchmark sides use
   * [[decontaminate]] (broadcast JOIN, counts per doc). Kept docs are
   * returned (the gate form); flip with `keepContaminated`.
   */
  def decontaminateFilter(
      corpus: DataFrame,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      n: Int,
      keepContaminated: Boolean = false): DataFrame = {
    val grams: Seq[String] = benchmark
      .withColumn("__ts", TextAnalysis.tokens(col(benchTextCol)))
      .select(explode(TextAnalysis.ngramsOf(col("__ts"), n)).as("__g"))
      .distinct().collect().map(_.getString(0)).toSeq
    // materialize the token array BEFORE the gram HOF (the measured 10x
    // subexpression-elimination trap — see ngramsOf's scaladoc).
    // coalesce: arrays_overlap null-propagates on NULL text, and a NULL
    // `hit` would fail BOTH branches — the row would silently vanish
    // from either output. NULL text cannot be contaminated, so it is
    // not-a-hit, matching the join-based [[decontaminate]] gate (which
    // keeps such rows); pinned in CurationSpec.
    val hit = coalesce(arrays_overlap(
      TextAnalysis.ngramsOf(col("__curate_ts"), n), typedlit(grams)), lit(false))
    corpus.withColumn("__curate_ts", TextAnalysis.tokens(col(textCol)))
      .where(if (keepContaminated) hit else !hit)
      .drop("__curate_ts")
  }

  /**
   * Training-sequence packing — the causal-LM data-prep step between
   * "curated docs" and "fixed-length training sequences": documents are
   * (conceptually) concatenated in a deterministic order and chopped
   * into `budget`-token sequences, documents straddling chunk boundaries
   * as standard GPT-style packing does. Each doc gets its position in
   * that stream:
   *
   *   (key, bucket, token_start, pack_first, pack_last, pack_off)
   *
   * where token_start = tokens before it in its bucket's stream,
   * pack_first/last = budget-chunk indexes of its first/last token, and
   * pack_off = offset inside pack_first. pack_last − pack_first > 0 ⟺
   * the doc straddles (consumers that forbid straddling re-emit the doc
   * at the next boundary — the assignment stays deterministic either
   * way).
   *
   * Determinism & distribution: docs route to `nBuckets` independent
   * streams by the portable (key, salt) hash — stable under reruns,
   * retries, and partitioning, like every decision in this module — and
   * the in-bucket order is (hash, key, tokens), so the packing is a pure
   * function of the corpus — duplicate keys tie only between fully
   * identical (key, tokens) rows, which are interchangeable, so the
   * output MULTISET stays deterministic even then. Each bucket's cumulative sum is ONE window
   * partition: size nBuckets ≈ corpusTokens / (executor-comfortable
   * tokens) so a bucket is one task's worth of narrow (key, hash, count)
   * rows — at 10^12 docs use 10^5-10^6 buckets; the payload never enters
   * the window (counts only). Zero/negative token counts are dropped
   * (nothing to pack — documented, not silent: the row count contract is
   * `input rows with tokens > 0`).
   *
   * All-integer (cumsum, div, mod on non-negative longs) ⇒ the DuckDB
   * oracle (q123) replays the identical assignment bit-for-bit.
   */
  def packSequences(
      df: DataFrame,
      keyCol: String,
      tokenCountCol: String,
      budget: Long,
      nBuckets: Int,
      salt: String): DataFrame = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    require(nBuckets >= 1, s"nBuckets must be >= 1 (got $nBuckets)")
    val h = Sketches.portableHash52(concat(col(keyCol).cast("string"), lit(":" + salt)))
    // order includes the token count: __h is a function of the key alone,
    // so DUPLICATE keys tie on (__h, key) — adding __n makes ties possible
    // only between fully identical (key, n) rows, which are interchangeable,
    // so the output MULTISET is deterministic even with duplicate keys
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__bucket").orderBy(col("__h"), col(keyCol), col("__n"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.where(col(tokenCountCol) > 0)
      .select(col(keyCol), col(tokenCountCol).cast("long").as("__n"), h.as("__h"))
      .withColumn("__bucket", pmod(col("__h"), lit(nBuckets.toLong)))
      .withColumn("__start", coalesce(sum(col("__n")).over(w), lit(0L)))
      .select(col(keyCol), col("__bucket").as("bucket"),
        col("__start").as("token_start"),
        expr(s"__start div ${budget}L").as("pack_first"),
        expr(s"(__start + __n - 1L) div ${budget}L").as("pack_last"),
        (col("__start") % budget).as("pack_off"))
  }

  /**
   * The end-to-end curation screen a pretraining-data operator actually
   * runs — the LLM-pipeline counterpart of the q116 crawl front door:
   * SEVEN stages chained over one document table, each applied to the
   * SURVIVORS of the previous (ordering is semantics: an exact-dup
   * canonical is chosen among in-language, quality-passing docs — a doc
   * rejected upstream can't shield a later duplicate), each rejection
   * labeled with the FIRST stage that fired. Output: one row per input
   * doc — (key, source, stage, split) with stage ∈ {lang, quality,
   * exact_dup, near_dup, contaminated, capped, kept} and split non-null
   * only for kept docs.
   *
   * Stages (all existing oracled operators — this composite exists to
   * catch column-contract drift between them, like q116 does for the
   * crawl stack):
   *  1. lang         — [[TextAnalysis.langId]] prediction ∉ keepLangs
   *  2. quality      — tokens < minTokens OR stopword·100 < tokens·minStopPct
   *                    (all-integer cross-multiply: no ratio rounding to
   *                    diverge on)
   *  3. exact_dup    — md5(text) group, min-key survivor ([[Dedup.exact]])
   *  4. near_dup     — MinHash-LSH pairs → connected components, min-key
   *                    canonical survives ([[Dedup.minhashLsh]]/dropKeys)
   *  5. contaminated — shares ≥1 word n-gram with `benchmark`
   *                    ([[decontaminate]])
   *  6. capped       — beyond the per-source deterministic cap
   *                    ([[capPerGroup]])
   *  7. kept         — split assigned leakage-safe by source group hash
   *                    ([[splitByGroup]])
   *
   * Scale shape: stages 1-2 are scan-side projections; 3 is one digest
   * groupBy (digests shuffle, never text); 4 shuffles shingle minima and
   * band keys (the q13 plan); 5 broadcasts the benchmark gram set; 6
   * ships ≤ cap slot rows per (source, task); 7 is a stateless CASE.
   * Stage composition adds semi/anti equi-joins on the doc key only —
   * document text crosses the wire exactly where the underlying operator
   * already shipped it.
   */
  def curate(
      docs: DataFrame,
      key: String, text: String, source: String,
      benchmark: DataFrame,
      keepLangs: Seq[String],
      minTokens: Int, minStopPct: Int,
      bands: Int, rowsPerBand: Int, threshold: Double, nGram: Int,
      capPerSource: Int, capSalt: String,
      splits: Seq[(String, Long)], splitSalt: String): DataFrame = scope {
    require(keepLangs.nonEmpty && minTokens >= 0 && minStopPct >= 0)
    // MATERIALIZED STAGE FRONTIERS: the final union's seven branches each
    // read their stage's survivor frame, and most frames are referenced
    // 2-3 times (operator input + the semi/anti drop pair). Without
    // materialization every branch re-derives the whole upstream chain —
    // the exact double-evaluation shape q116's robots gate measured at
    // 10.9 s vs 1.5 s. Each frontier is the stage table a production
    // pipeline would write to storage anyway; the frontier frames shrink
    // monotonically. Every frontier is fanned out (fanOut): stage outputs
    // are small, and the heavy downstream passes (minhashLsh's tokenizer
    // over s3, the gram explode over s4) would otherwise run single-task.

    def drops(df: DataFrame, stage: String): DataFrame =
      df.select(col("__k"), col("__src"), lit(stage).as("stage"),
        lit(null).cast("string").as("split"))

    // 1+2. language and quality are BOTH scan-side signals: score them in
    // ONE pass over the input and checkpoint that single frontier — the
    // former shape paid a separate base checkpoint plus semi/anti key
    // joins per stage where plain filters on the scored frame suffice
    // (stage semantics unchanged: quality drops are judged among
    // in-language docs only, which filters express directly)
    val sw = TextAnalysis.LangStopwords.flatMap(_._2).distinct
    val q = materialize(TextAnalysis.langIdWith(
        docs.select(col(key).as("__k"), col(text).as("__txt"),
          col(source).as("__src")), "__txt")
      .withColumn("__nt", size(split(col("__txt"), " ")).cast("long"))
      .withColumn("__sw",
        size(filter(split(lower(col("__txt")), " "), t => t.isInCollection(sw)))
          .cast("long")), fanOut = true)
    val okLang = col("pred_lang").isInCollection(keepLangs)
    val okQ = col("__nt") >= minTokens &&
      col("__sw") * 100 >= col("__nt") * minStopPct
    val d1 = drops(q.where(!okLang), "lang")
    val d2 = drops(q.where(okLang && !okQ), "quality")
    val s2 = q.where(okLang && okQ)
      .drop("pred_lang", "best_score", "__nt", "__sw")

    // 3. exact dedup among survivors: min-key per digest survives; ONE
    // digest join materialized, survivors/drops are filters over it
    val dg = s2.withColumn("__dg", md5(col("__txt").cast("binary")))
    val keep3 = dg.groupBy("__dg").agg(min(col("__k")).as("__keep"))
    val j3 = materialize(dg.join(keep3, "__dg"), fanOut = true)
    val s3 = materialize(j3.where(col("__k") === col("__keep")).drop("__dg", "__keep"),
      fanOut = true)
    val d3 = drops(j3.where(col("__k") =!= col("__keep")), "exact_dup")

    // 4. near-dup components among survivors: min-key canonical survives
    val pairs = Dedup.minhashLsh(s3, "__k", "__txt", bands, rowsPerBand, threshold)
    val drop4 = Dedup.dropKeys(pairs, "key_a", "key_b")
      .select(col("drop_key").as("__k"))
    val s4 = materialize(s3.join(drop4, Seq("__k"), "left_anti"), fanOut = true)
    val d4 = drops(s3.join(drop4, Seq("__k"), "left_semi"), "near_dup")

    // 5. benchmark decontamination (benchmark must carry the SAME text
    // column name as docs; normalized here to the internal name).
    // hit5 feeds both the anti and the semi join — materialize it once or
    // the whole corpus-side gram explode+probe pipeline runs twice
    val bench = benchmark.select(col(text).as("__txt"))
    val hit5 = materialize(decontaminate(s4, bench, "__k", "__txt", nGram)
      .select(col("__k")))
    val s5 = materialize(s4.join(hit5, Seq("__k"), "left_anti"), fanOut = true)
    val d5 = drops(s4.join(hit5, Seq("__k"), "left_semi"), "contaminated")

    // 6. per-source cap — kept set feeds the split branch and the anti
    // join; materialize once (the slots aggregate otherwise runs twice)
    val s6 = materialize(capPerGroup(s5, "__src", "__k", capPerSource, capSalt), fanOut = true)
    val d6 = drops(s5.join(s6.select("__k"), Seq("__k"), "left_anti"), "capped")

    // 7. leakage-safe split for the kept set
    val kept = splitByGroup(s6, "__src", splits, splitSalt)
      .select(col("__k"), col("__src"), lit("kept").as("stage"), col("split"))

    Seq(d1, d2, d3, d4, d5, d6, kept).reduce(_ unionByName _)
      .select(col("__k").as(key), col("__src").as(source),
        col("stage"), col("split"))
  }
}
