package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Keyword retrieval over the document corpus: inverted-index construction
 * (posting lists + document frequencies) and multi-term top-k search with
 * integer tf·idf-style scoring. The corpus-scale form of the reference's
 * text-search surface (reference: src/mcp_server_tree_sitter/tools/
 * search.py:12-136 scans files per query; an inverted index is what that
 * becomes when the corpus is 10^12 pages and queries are term sets), with
 * the top-k contract of tools/search.py:500-501 (score desc, key asc).
 *
 * Scoring is EXACT INTEGER arithmetic so results are bit-portable to the
 * DuckDB oracle: score(q, d) = Σ_{t ∈ q} tf(d, t) · (N div df(t)), where
 * `div` is integer division. `N div df` is the classic idf shape (rare
 * terms weigh more, terms in every document weigh 1) without the
 * float log whose last-ulp behavior differs across engines. Scores stay
 * well under 2^53 (tf ≤ doc length, N div df ≤ N), so they round-trip
 * losslessly through the double-typed top-k aggregate.
 *
 * Scale shape of [[searchTopK]] (the one-shot plan): the query term set
 * is broadcast and pruning happens BEFORE the first shuffle — tokens
 * stream through explode → broadcast semi-probe, so only postings of
 * query terms (Σ_t df(t) narrow rows) ever reach an exchange. From there
 * everything is query-term-sized: tf and df aggregate the pruned rows
 * (both branches hang off the SAME (term, doc) exchange, which Spark's
 * ReuseExchange dedups), weights join back broadcast, and the final
 * ranking is the [[TopK.ranked]] partial top-k (≤ k rows per query per
 * map task reach the last exchange). No full-corpus posting shuffle, no
 * window over a hot term's full posting list.
 *
 * [[buildIndex]] is the materialized form (postings + df as tables) for
 * amortizing many query batches over one corpus pass; its output is
 * written partitioned by term hash and `searchTopK`'s join section
 * applies unchanged on top.
 */
object Retrieval {

  /** Inverted index: posting list `(term, doc_id, tf)`. One corpus scan,
   * one shuffle on (term, doc_id) with map-side combine. */
  def postings(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Document frequencies from a posting table (already distinct per
   * (term, doc)): `(term, df)`. */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** Materialized index pair (postings, docFreq) over one shared scan. */
  def buildIndex(docs: DataFrame, keyCol: String, textCol: String): (DataFrame, DataFrame) = {
    val post = postings(docs, keyCol, textCol)
    (post, docFreq(post))
  }

  /** Positional postings `(term, doc_id, pos)` — pos 1-based token
   * position; the phrase-query index (one scan, explode, narrow rows). */
  def positionalPostings(docs: DataFrame, keyCol: String, textCol: String): DataFrame =
    docs.select(col(keyCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("__p0", "term")))
      .select(col("term"), col("doc_id"), (col("__p0") + 1).cast("long").as("pos"))

  /**
   * Exact phrase occurrence counts: `(doc_id, n_occur)` with one row per
   * document containing the phrase (consecutive tokens, overlapping
   * occurrences counted — "b b b" contains "b b" twice).
   *
   * Index plan: postings are filtered to the phrase's terms AT THE SCAN
   * (a literal IN — at web scale this probes Σ df(tᵢ) narrow rows out of
   * the index, never the corpus), each term's positions align on
   * `(doc, pos − offset)` via equi-joins, and the aligned starts count
   * per doc. `(doc, start)` is unique per side (a term has one position
   * row per occurrence), so the joins cannot amplify.
   */
  def phraseCount(
      docs: DataFrame,
      keyCol: String,
      textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    require(phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      s"phrase terms must be non-empty single tokens (got $phrase)")
    val posts = positionalPostings(docs, keyCol, textCol)
      .where(col("term").isInCollection(phrase.distinct))
    phrase.zipWithIndex.map { case (t, i) =>
      posts.where(col("term") === t)
        .select(col("doc_id"), (col("pos") - i).as("__start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "__start")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occur"))
  }

  /**
   * Top-k documents per query. `queries` is a config-sized table
   * `(query_id: BIGINT, term: STRING)` — one row per query term; a term
   * repeated in a query contributes once (terms are deduplicated).
   * Returns `(query_id, doc_id, score, rank)` ordered within each query
   * by (score desc, doc_id asc), rank 1-based, ≤ k rows per query.
   */
  def searchTopK(
      docs: DataFrame,
      keyCol: String,
      textCol: String,
      queries: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    val q = queries.select(col("query_id").cast("long"), col("term")).distinct()
    val qTerms = q.select("term").distinct()

    // Prune to query-term tokens BEFORE any shuffle: broadcast probe.
    val pruned = docs.select(col(keyCol).as("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("term"))
      .join(broadcast(qTerms), "term")
    val tf = pruned.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    // Corpus df restricted to query terms equals the unrestricted df for
    // those terms; both aggregates reuse the same (term, doc) exchange.
    val dfq = docFreq(tf)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val weights = dfq.crossJoin(broadcast(nDocs))
      .select(col("term"), expr("n_docs div df").as("w"))

    val scored = tf
      .join(broadcast(q), "term")
      .join(broadcast(weights), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("tf") * col("w")).as("score"))

    if (k <= TopKSlots.MaxK) {
      // Map-side partial top-k through TopK.ranked (≤ k rows per query per
      // map task reach the exchange, never a full-candidate window
      // shuffle). Integer scores round-trip exactly through its double
      // score channel ONLY below 2^53. The score bound is
      // sum_terms(tf · (N div df)) <= |query terms| · maxDoclen · N, which
      // a rare term in a long document CAN exceed at ~10^12 docs — above
      // 2^53 the double cast drops low bits and may reorder ties in the
      // top-k cut, so the cast fails loudly instead of silently (callers
      // in that regime use k > MaxK to route to the exact row_number
      // path, or pre-scale weights).
      val exactMax = 1L << 53
      val guarded = when(col("score") < lit(exactMax), col("score"))
        .otherwise(raise_error(format_string(
          "searchTopK score %s >= 2^53 for query %s: not exactly representable " +
            "as double; use k > TopKSlots.MaxK (exact path) or scale weights",
          col("score"), col("query_id"))).cast("long"))
      TopK.ranked(scored, Seq("query_id"), guarded.cast("double"), "doc_id", k)
        .select(col("query_id"), col("doc_id"), col("score").cast("long").as("score"),
          col("rank").cast("long").as("rank"))
    } else {
      scored.withColumn("rank",
          row_number().over(Window.partitionBy("query_id")
            .orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    }
  }
}
