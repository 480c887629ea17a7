package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a web-scale training-data pipeline, built
 * purely from codegen'd `functions._` (no UDFs — SURVEY §2.11 discipline).
 * Each operator mirrors a reference semantics class:
 *  - textSearch   ← find_text per-line scan (reference: tools/search.py:12-136)
 *  - sliceLines   ← get_file start_line/max_lines slicing (file_operations.py:77-173)
 *  - lineStats    ← complexity line counts (analysis.py:803-927)
 *  - langId/quality/tokenCount/fingerprint ← the training-data additions
 *    (driver instructions), all with exact SQL-oracle equivalents.
 */
object TextAnalysis {

  /** Whitespace tokens. Mirrors DuckDB string_split(text, ' '). */
  def tokens(text: Column): Column = split(text, " ")

  /** Sorted distinct word 3-gram shingles (the dedup/similarity unit)
   * over a MATERIALIZED token column.
   * Guard: Spark's sequence(1,0) DESCENDS, so short docs get array().
   * DuckDB mirror: list_sort(list_distinct(list_transform(
   *   generate_series(1, greatest(len(ts)-2,0)), i -> …))).
   *
   * PERF: never pass `tokens(text)` inline. Higher-order functions are
   * interpreted (no codegen, no subexpression elimination), so
   * element_at(split(text), i) inside the lambda re-splits the text per
   * element — O(n²) splits per row (measured 10× slowdown on dedup ops).
   * A column reference makes it O(1) per element. */
  def shinglesOf(ts: Column): Column = ngramsOf(ts, 3)

  /** Sorted distinct word n-grams over a MATERIALIZED token column (see
   * the perf note on [[shinglesOf]] — never pass `tokens(text)` inline).
   * Same guards as the 3-gram form: `sequence(1, 0)` DESCENDS in Spark,
   * so rows shorter than n tokens take the explicit empty branch. */
  def ngramsOf(ts: Column, n: Int): Column = {
    require(n >= 1, s"n-gram width must be >= 1 (got $n)")
    array_sort(array_distinct(
      when(size(ts) >= n,
        transform(sequence(lit(1), size(ts) - (n - 1)), i =>
          concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
        .otherwise(array().cast("array<string>"))))
  }

  /** ALL word n-grams, in document order, repeats kept (the repetition-
   * signal unit — contrast [[ngramsOf]], which sorts and dedups for set
   * semantics). Same materialized-token and empty-range guards. */
  def gramsAllOf(ts: Column, n: Int): Column = {
    require(n >= 1, s"n-gram width must be >= 1 (got $n)")
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(ts, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Longest run of equal values in a SORTED string array = the maximum
   * multiplicity of any value — one interpreted fold, no explode, no
   * shuffle. The initial `prev` needs no reserved sentinel: with run = 0
   * even a colliding first element computes 0 + 1 = 1. Empty array → 0. */
  private def maxRun(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(run, acc.getField("best")).as("best"))
      },
      acc => acc.getField("best"))

  /**
   * Repetition signals (the Gopher/RefinedWeb quality-filter family,
   * token-adapted): how much of a document is the same content repeated.
   * High values mark boilerplate, spam and generation loops — the first
   * thing a webtext pipeline filters after language ID.
   *
   * Output per key, ALL exact integers (bit-portable to any engine —
   * ratios are BASIS POINTS by integer division, no float in sight):
   *  - n_tokens, n_distinct     token count / distinct token count
   *  - top_token_count          max multiplicity of any one token
   *  - dup_token_bp             (n_tokens − n_distinct)·10⁴ div n_tokens
   *  - dup2_bp, dup3_bp, dup4_bp duplicate n-gram fraction in bp for
   *                             n = 2,3,4 (0 when the doc has no n-grams)
   *  - top2_count               max multiplicity of any 2-gram
   *
   * Scale shape: pure per-row scalar work — one scan, no explode, no
   * shuffle, nothing to skew. Multiplicities come from a sort + max-run
   * fold per row (O(L log L) on the row's own tokens), not from an
   * unnest + groupBy that would shuffle every token of every document.
   */
  def repetition(df: DataFrame, key: String, text: String): DataFrame = {
    val base = df.select(col(key), tokens(col(text)).as("__ts"))
      .withColumn("__g2", gramsAllOf(col("__ts"), 2))
      .withColumn("__g3", gramsAllOf(col("__ts"), 3))
      .withColumn("__g4", gramsAllOf(col("__ts"), 4))
    // basis points via integer division: non-negative operands, so Spark
    // `div` (truncate) and DuckDB `//` (floor) agree exactly
    val counted = base.select(col(key),
      size(col("__ts")).cast("long").as("n_tokens"),
      size(array_distinct(col("__ts"))).cast("long").as("n_distinct"),
      maxRun(array_sort(col("__ts"))).as("top_token_count"),
      size(col("__g2")).cast("long").as("__t2"),
      size(array_distinct(col("__g2"))).cast("long").as("__d2"),
      size(col("__g3")).cast("long").as("__t3"),
      size(array_distinct(col("__g3"))).cast("long").as("__d3"),
      size(col("__g4")).cast("long").as("__t4"),
      size(array_distinct(col("__g4"))).cast("long").as("__d4"),
      maxRun(array_sort(col("__g2"))).as("top2_count"))
    counted.select(col(key), col("n_tokens"), col("n_distinct"), col("top_token_count"),
      expr("((n_tokens - n_distinct) * 10000) div n_tokens").as("dup_token_bp"),
      expr("CASE WHEN __t2 = 0 THEN 0 ELSE ((__t2 - __d2) * 10000) div __t2 END").as("dup2_bp"),
      expr("CASE WHEN __t3 = 0 THEN 0 ELSE ((__t3 - __d3) * 10000) div __t3 END").as("dup3_bp"),
      expr("CASE WHEN __t4 = 0 THEN 0 ELSE ((__t4 - __d4) * 10000) div __t4 END").as("dup4_bp"),
      col("top2_count"))
  }

  /** Keep documents whose duplicate-3-gram fraction is at most `maxDupBp`
   * basis points — the filter form of [[repetition]] (scan-side, no
   * shuffle; the signal is recomputed inline rather than joined back). */
  def repetitionFilter(df: DataFrame, text: String, maxDupBp: Long): DataFrame = {
    require(maxDupBp >= 0 && maxDupBp <= 10000, s"maxDupBp must be in [0,10000] (got $maxDupBp)")
    val ts = tokens(col(text))
    val g3 = gramsAllOf(ts, 3)
    val t3 = size(g3).cast("long")
    val d3 = size(array_distinct(g3)).cast("long")
    df.where(t3 === 0 || (t3 - d3) * 10000 <= lit(maxDupBp) * t3)
  }

  /**
   * PII patterns in the PORTABLE regex subset (classes, quantifiers,
   * alternation — no lookaround/backrefs/word-boundaries, see the
   * [[textSearch]] dialect contract): the same pattern text compiles to
   * the same matches under Java regex (Spark), RE2 (DuckDB/Go scanners)
   * and Python `re`, so redaction is reproducible across every engine
   * that touches the corpus. Order matters and is part of the contract:
   * emails first (their digits must not later count as numbers), then
   * IPv4 (octets are ≤ 3 digits so they can't feed the long-number
   * rule), then 7+-digit runs (phone/account-shaped).
   */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IPV4>"),
    ("number", "[0-9]{7,}", "<NUMBER>"))

  /** Non-overlapping match count of one PII category in `text`. */
  def piiCount(text: Column, category: String): Column = {
    val pat = PiiPatterns.collectFirst { case (c, p, _) if c == category => p }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown PII category '$category' (have ${PiiPatterns.map(_._1).mkString(", ")})"))
    size(regexp_extract_all(text, lit(pat), lit(0))).cast("long")
  }

  /** Per-document PII counts: (key, n_email, n_ipv4, n_number). A pure
   * scan-side projection — the audit pass a pipeline runs to size the
   * problem before committing to redaction. */
  def piiStats(df: DataFrame, key: String, text: String): DataFrame =
    df.select(col(key) +:
      PiiPatterns.map { case (c, _, _) => piiCount(col(text), c).as(s"n_$c") }: _*)

  /** Redact all PII categories in `textCol` in the contract order,
   * preserving every other column. Scan-side regexp_replace cascade —
   * no shuffle, safe to fuse with any downstream operator. */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val scrubbed = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, rep)) => regexp_replace(acc, pat, rep)
    }
    df.withColumn(textCol, scrubbed)
  }

  /** Per-line search hits: (key, line, line_text) for lines containing
   * `term`. Modes mirror the reference: plain contains / case-insensitive /
   * whole-word / raw regex (reference: search.py:19,43-84 — find_text's
   * use_regex flag compiles with re.IGNORECASE when case-insensitive).
   *
   * Regex dialect contract (SURVEY §2.10): patterns must stay inside the
   * portable subset — literal chars, char classes, `. * + ? | ( ) { }`
   * quantifiers and anchors — which behaves identically in Java regex,
   * RE2 (DuckDB) and Python re. No inline flags, backreferences or
   * lookaround (Java-only features would silently diverge from the
   * reference's `re`). */
  def textSearch(df: DataFrame, key: String, text: String, term: String,
      caseInsensitive: Boolean = false, wholeWord: Boolean = false,
      regex: Boolean = false, maxPerKey: Int = Int.MaxValue): DataFrame = {
    require(!(wholeWord && regex),
      "wholeWord and regex are mutually exclusive: in regex mode put \\b in the pattern")
    val lines = df.select(col(key),
      posexplode(split(col(text), "\n")).as(Seq("line0", "line_text")))
      .withColumn("line", (col("line0") + 1).cast("long")).drop("line0")
    val hit =
      if (regex)
        col("line_text").rlike(if (caseInsensitive) "(?i)" + term else term)
      else if (wholeWord)
        // the reference compiles \b…\b WITH re.IGNORECASE when both flags
        // are set (tools/search.py:52-54) — mirror it with (?i)
        col("line_text").rlike((if (caseInsensitive) "(?i)" else "") +
          "\\b" + java.util.regex.Pattern.quote(term) + "\\b")
      else if (caseInsensitive) lower(col("line_text")).contains(term.toLowerCase)
      else col("line_text").contains(term)
    val hits = lines.where(hit)
    // per-document result budget (reference: per-file max_results break,
    // search.py:111-112) — first maxPerKey hits in line order per key
    if (maxPerKey == Int.MaxValue) hits
    else hits.withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(key).orderBy("line")))
      .where(col("__rn") <= maxPerKey).drop("__rn")
  }

  /** Lines [start, start+n) re-joined (reference get_file slicing). */
  def sliceLines(df: DataFrame, key: String, text: String, start: Int, n: Int): DataFrame =
    df.select(col(key),
      concat_ws("\n", slice(split(col(text), "\n"), start + 1, n)).as("sliced"))

  /** Language ID by stopword voting. Deterministic tie-break: language
   * list order. Output (key, pred_lang, best_score). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "de"))

  def langId(df: DataFrame, key: String, text: String): DataFrame = {
    langIdWith(df.select(col(key), col(text)), text)
      .select(col(key), col("pred_lang"), col("best_score"))
  }

  /** [[langId]] PRESERVING the input columns (appends pred_lang +
   * best_score): the narrow key+prediction projection above forces
   * callers that need other columns into a join-back on the key — fine
   * in batch, but a STREAM joined to a derivative of itself is a
   * stream-stream join, which Structured Streaming rejects without
   * watermark state. This form is a pure scan-side projection, so a
   * language gate composes with readStream (and pushes down in batch). */
  def langIdWith(df: DataFrame, text: String): DataFrame = {
    // "preserving" must not mean "silently replacing": the working
    // columns and the two outputs may not collide with caller columns
    // (withColumn would overwrite them and the final drop would delete
    // caller data without an error)
    val reserved = Set("__ts", "pred_lang", "best_score") ++
      LangStopwords.map { case (l, _) => s"__s_$l" }
    val clash = df.columns.filter(reserved)
    require(clash.isEmpty,
      s"langIdWith reserves columns ${reserved.mkString(", ")}; " +
        s"input already has ${clash.mkString(", ")} — rename them first")
    val ts = tokens(lower(col(text)))
    val scored = LangStopwords.foldLeft(df.withColumn("__ts", ts)) {
      case (acc, (lang, sw)) =>
        acc.withColumn(s"__s_$lang",
          size(filter(col("__ts"), t => t.isInCollection(sw))).cast("long"))
    }
    val best = LangStopwords.map { case (l, _) => col(s"__s_$l") }.reduce(greatest(_, _))
    // right-fold so the FIRST language in list order wins ties
    val pred = LangStopwords.foldRight(lit("und")) { case ((l, _), other) =>
      when(col(s"__s_$l") === best && best > 0, lit(l)).otherwise(other)
    }
    scored.withColumn("pred_lang", pred).withColumn("best_score", best)
      .drop("__ts" +: LangStopwords.map { case (l, _) => s"__s_$l" }: _*)
  }

  /** Quality score: token count, mean token length, stopword ratio,
   * uppercase ratio — all exact integer/4-dp arithmetic. */
  def quality(df: DataFrame, key: String, text: String): DataFrame = {
    val sw = LangStopwords.flatMap(_._2).distinct
    df.select(col(key), col(text), tokens(lower(col(text))).as("__lts"))
      .select(col(key),
        size(tokens(col(text))).cast("long").as("n_tokens"),
        length(col(text)).cast("long").as("n_chars"),
        round(length(col(text)).cast("double") / size(tokens(col(text))), 4).as("mean_token_len"),
        round(size(filter(col("__lts"), t => t.isInCollection(sw))).cast("double")
          / size(tokens(col(text))), 4).as("stopword_ratio"))
  }

  /** Token counts: whitespace + regex word-ish (BPE-ish proxy). */
  def tokenCount(df: DataFrame, key: String, text: String): DataFrame =
    df.select(col(key),
      size(tokens(col(text))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(text), lit("[a-z]+|[0-9]+"), lit(0))).cast("long").as("re_tokens"))

  /** Rolling polynomial fingerprint over tokens, mod 1e9+7. Exactly
   * mirrors DuckDB list_reduce with a '0' sentinel head (both sides fold
   * left over the same token sequence with the same integer ops). */
  def fingerprint(df: DataFrame, key: String, text: String): DataFrame =
    df.select(col(key),
      aggregate(tokens(col(text)), lit(0L),
        (acc, t) => pmod(acc * 31 + length(t).cast("long") * 7 + ascii(substring(t, 1, 1)).cast("long"),
          lit(1000000007L))).as("fp"))

  /**
   * Line-level boilerplate removal (the C4 / MassiveText cleaning step):
   * drop every line that occurs in at least `minDocs` DISTINCT documents
   * — navigation bars, cookie banners, copyright footers — and rebuild
   * each document from its surviving lines in original order.
   *
   * Scale shape — document TEXT never shuffles:
   *  1. frequent-line census: per document, DISTINCT line digests
   *     (md5, 16 bytes) → one groupBy(digest) count. The exchange
   *     carries digests, not lines; a plain count equals the distinct-doc
   *     count because each document contributes a digest at most once.
   *  2. surviving positions: (key, pos, digest) anti-join the frequent
   *     set — the frequent side is an aggregate output, so AQE broadcasts
   *     it when small (the common case: lines repeated across ≥ minDocs
   *     documents are a tiny fraction of distinct lines).
   *  3. rebuild: positions collect per key (ints, sorted inside the
   *     aggregate — collect_list order is shuffle-nondeterministic),
   *     join back to the ORIGINAL row, and a per-row projection picks
   *     `element_at(lines, pos + 1)` — so the only shuffles carrying
   *     anything document-sized are the digest census and the int
   *     positions; the text column rides its own scan straight into the
   *     final projection.
   *
   * Output: key, clean_text (surviving lines joined by '\n'; empty
   * string when every line was boilerplate), n_kept, n_dropped.
   */
  /**
   * Unigram-surprisal quality score — the CCNet/Wikipedia-LM "how
   * surprising is this document under a corpus language model" signal,
   * restricted to a unigram model and EXACT integer arithmetic so any
   * engine reproduces it bit-for-bit (float log-probs are neither
   * portable nor shuffle-order-stable; curation consumes the ORDER of
   * scores, which integer bits preserve).
   *
   * Per-token information ≈ -log2 p(token), integer-approximated as
   *   info(t) = floorlog2(N) - floorlog2(count(t))
   * where N = corpus token count and floorlog2(x) = length(bin(x)) - 1
   * — `bin` (the binary-digits string) is built into both Spark and
   * DuckDB, so the bit-length trick replaces the non-portable log. Rare
   * tokens score high, stopwords score ~0; a document of boilerplate
   * stopwords ranks low, one of rare-token gibberish ranks high — the
   * same two tails CCNet's perplexity filter cuts.
   *
   * Scale shape: one digest-only census (16-byte md5 per token
   * occurrence → groupBy count), the vocabulary-sized info table joins
   * back broadcast-style (AQE), and the per-document sum is a map-side
   * partial aggregate. Document text never shuffles.
   *
   * Output: key, n_tokens, total_bits, mean_bits_bp (= total·10000 div
   * n_tokens — basis points keep it integral).
   */
  def surprisal(df: DataFrame, key: String, text: String): DataFrame = {
    val toks = df.select(col(key), explode(tokens(col(text))).as("__t"))
      .select(col(key), md5(col("__t").cast("binary")).as("__d"))
    val counts = toks.groupBy("__d").agg(count(lit(1)).as("__c"))
    val total = counts.agg(sum(col("__c")).as("__N"))
    val info = counts.crossJoin(broadcast(total))
      .select(col("__d"),
        (length(bin(col("__N"))) - length(bin(col("__c")))).cast("long").as("__i"))
    toks.join(info, Seq("__d"))
      .groupBy(key)
      .agg(count(lit(1)).as("n_tokens"), sum(col("__i")).as("total_bits"))
      .select(col(key), col("n_tokens"), col("total_bits"),
        expr("total_bits * 10000L div n_tokens").as("mean_bits_bp"))
  }

  def dropBoilerplateLines(df: DataFrame, key: String, text: String,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs)")
    val lines = df.select(col(key), split(col(text), "\n").as("__lines"))
    val frequent = lines
      .select(col(key), explode(array_distinct(col("__lines"))).as("__l"))
      .select(md5(col("__l")).as("__d"))
      .groupBy("__d").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minDocs).select("__d")
    val kept = lines
      .select(col(key), posexplode(col("__lines")).as(Seq("__p", "__l")))
      .select(col(key), col("__p"), md5(col("__l")).as("__d"))
      .join(frequent, Seq("__d"), "left_anti")
      .groupBy(key).agg(sort_array(collect_list(col("__p"))).as("__keep"))
    lines.join(kept, Seq(key), "left")
      .withColumn("__keep", coalesce(col("__keep"), array().cast("array<int>")))
      .select(col(key),
        concat_ws("\n",
          transform(col("__keep"), p => element_at(col("__lines"), p + 1))).as("clean_text"),
        size(col("__keep")).cast("long").as("n_kept"),
        (size(col("__lines")) - size(col("__keep"))).cast("long").as("n_dropped"))
  }
}
