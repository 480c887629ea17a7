package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Checkpoints.{materialize, scope}
import graft.functions._
import graft.operators._

/**
 * The engine's public facade — one thin entry point per reference tool
 * (reference: tools/registration.py:31-656 registers ~25 MCP tools; each
 * row below cites the tool it re-expresses). Thin like the reference's
 * wrappers: every method is a declarative DataFrame transform; Catalyst
 * owns the physical plan.
 *
 * Conventions: `pages` is any DataFrame with the BASELINE.json input_hint
 * shape (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
 * lang STRING).
 */
object Engine {

  // ---- corpus registration / listing (S1/S2, registration.py:89-136) ----

  /** Language histogram of a corpus (Project.scan_files' languages map,
   * models/project.py:62-89). */
  def languageHistogram(pages: DataFrame): DataFrame =
    pages.groupBy("lang").count()

  /** Glob-style member listing (list_files, tools/file_operations.py:13-74):
   * glob → anchored regex, sorted output. */
  def listPages(pages: DataFrame, glob: String): DataFrame = {
    val regex = "^" + java.util.regex.Pattern.quote(glob)
      .replace("**", "\u0001").replace("*", "\u0002")
      .replace("\u0001", "\\E.*\\Q").replace("\u0002", "\\E[^/]*\\Q") + "$"
    pages.select("url").where(col("url").rlike(regex)).orderBy("url")
  }

  /** Per-page metadata (get_file_metadata, file_operations.py:176-234). */
  def pageMetadata(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("warc_ts"), col("lang"),
      length(col("html")).cast("long").as("size_bytes"),
      size(split(col("text"), "\n")).cast("long").as("line_count"))

  /** Content slice (get_file, file_operations.py:77-173). */
  def pageLines(pages: DataFrame, startLine: Int, maxLines: Int): DataFrame =
    TextAnalysis.sliceLines(pages, "url", "text", startLine, maxLines)

  // ---- parse / AST surface (T1-T4, tools/ast_operations.py) -------------

  /** Flattened node table (get_ast, ast_operations.py:17-66). */
  def nodes(pages: DataFrame): DataFrame =
    pages.select(col("url"), parse_html_nodes(col("html")).as(Seq(
      "node_id", "parent_id", "depth", "kind", "name", "attrs",
      "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
      "path", "children_count")))

  /** Depth-capped node table with a `truncated` marker (get_ast max_depth
   * + truncated flag, models/ast_cursor.py:123-126; the caller passes
   * the cap). Reference parity: EVERY node sitting at the cap is
   * marked truncated — leaf or not — exactly as the reference flags any
   * max_depth node when children are requested. One pass, no self-join,
   * no second parse of the corpus. */
  def nodesToDepth(pages: DataFrame, maxDepth: Int): DataFrame =
    nodes(pages).where(col("depth") <= maxDepth)
      .withColumn("truncated", col("depth") === maxDepth)

  /** Most-specific node containing a point, for EVERY page — the corpus
   * form of find_node_at_position (models/ast.py:87-109: walk down, keep
   * the smallest node whose [start, end) point range contains the
   * target). One parse + a per-url min-span window; no self-join. */
  def nodesAtPosition(pages: DataFrame, row: Int, colPos: Int): DataFrame = {
    val contained = nodes(pages)
      .where((col("start_row") < row ||
        (col("start_row") === row && col("start_col") <= colPos)) &&
        (col("end_row") > row ||
          (col("end_row") === row && col("end_col") > colPos)))
    val w = Window.partitionBy("url").orderBy(
      (col("end_byte") - col("start_byte")).asc, col("depth").desc, col("start_byte").asc)
    contained.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Single-url flavour (the reference tool's exact signature). */
  def nodeAtPosition(pages: DataFrame, url: String, row: Int, colPos: Int): DataFrame =
    nodesAtPosition(pages.where(col("url") === url), row, colPos)

  /** Node table with the node's raw source text attached — the
   * reference's include_text=True surface (tools/ast_operations.py:17-66
   * passes include_text; models/ast_cursor.py:95-119 emits `text` per
   * node from source_bytes[start:end] + late decode). Raw bytes of the
   * node span, replace-decoded; entities NOT decoded (parity with the
   * reference, which slices source bytes verbatim). */
  def nodesWithText(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("html"), parse_html_nodes(col("html")).as(Seq(
      "node_id", "parent_id", "depth", "kind", "name", "attrs",
      "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
      "path", "children_count")))
      .withColumn("node_text", utf8_decode_replace(
        expr("substring(html, start_byte + 1, end_byte - start_byte)")))
      .drop("html")

  /**
   * Sitemap URL discovery — the other crawl front-door input besides
   * robots.txt: parse sitemap XML documents and emit one row per
   * `<loc>` entry (plus its optional sibling `<lastmod>`, null when
   * absent). The existing HTML parser handles the XML subset sitemaps
   * use (plain nested elements + text); `<?xml?>` prologs and unknown
   * tags pass through as ignorable nodes.
   *
   * Input: one sitemap document per row (host column + xml string or
   * binary column). Plan shape: one parse per document (generator),
   * then per-document equi-joins of text nodes onto their `loc`/`lastmod`
   * parents keyed by a content-derived row id — map-side work bounded by
   * entries-per-sitemap, no cross-document joins.
   *
   * The per-document join key is `xxhash64(host, xml)`, so the input is
   * deduplicated on (host, xml) first — two byte-identical sitemap rows
   * would otherwise share a row id and cross-multiply the text×entry
   * joins (4 rows per entry instead of 2). The dedup is semantically a
   * no-op: identical sitemap bytes yield identical entries. Remaining
   * precondition (documented, not checked): DISTINCT (host, xml) pairs
   * must not collide in 64 bits — at 10^9 sitemaps the collision odds
   * are ~10^-2 per corpus and a collision only mixes two documents'
   * entry joins, it never drops rows.
   *
   * @return (host, loc_url, lastmod nullable)
   */
  def sitemapUrls(sitemaps: DataFrame, hostCol: String, xmlCol: String): DataFrame = scope {
    val nodeCols = Seq("node_id", "parent_id", "depth", "kind", "name", "attrs",
      "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
      "path", "children_count")
    // the parsed node table feeds FOUR references below (entries rides
    // both the loc and lastmod joins, texts rides both too): materialize
    // it ONCE or the XML parse generator runs once per reference. Text
    // payloads are sliced out eagerly here so the checkpoint carries one
    // decoded string per text node instead of the full XML bytes per
    // node row.
    val nd = materialize(sitemaps
      .select(col(hostCol).as("host"), col(xmlCol).cast("binary").as("__xb"))
      .distinct()
      .withColumn("__rid", xxhash64(col("host"), col("__xb")))
      .select(col("host"), col("__rid"), col("__xb"),
        parse_html_nodes(col("__xb")).as(nodeCols))
      .select(col("host"), col("__rid"), col("node_id"), col("parent_id"),
        col("kind"), col("name"),
        when(col("kind") === "text", trim(utf8_decode_replace(
          expr("substring(__xb, start_byte + 1, end_byte - start_byte)")))).as("__t")))
    // per <url> entry: its loc element id and (optional) lastmod id
    val entries = nd.where(col("kind") === "element" &&
        (col("name") === "loc" || col("name") === "lastmod"))
      .groupBy(col("__rid").as("erid"), col("parent_id").as("entry_id"))
      .agg(
        min(when(col("name") === "loc", col("node_id"))).as("loc_id"),
        min(when(col("name") === "lastmod", col("node_id"))).as("lastmod_id"))
      .where(col("loc_id").isNotNull)
    val texts = nd.where(col("kind") === "text")
      .select(col("__rid"), col("host"), col("parent_id"), col("__t"))
    val locs = texts.join(entries,
        col("__rid") === col("erid") && col("parent_id") === col("loc_id"))
      .select(col("__rid").as("r1"), col("entry_id").as("e1"),
        col("host"), col("__t").as("loc_url"))
    val mods = texts.join(entries,
        col("__rid") === col("erid") && col("parent_id") === col("lastmod_id"))
      .select(col("__rid").as("r2"), col("entry_id").as("e2"), col("__t").as("lastmod"))
    locs.join(mods, col("r1") === col("r2") && col("e1") === col("e2"), "left")
      .where(col("loc_url") =!= "")
      .select(col("host"), col("loc_url"), col("lastmod"))
  }

  /** Block-level candidates for [[mainContent]] (body/html and headers
   * are excluded on purpose — the page root always "wins" raw length,
   * and headers are chrome, not content). */
  val MainContentTags: Seq[String] =
    Seq("p", "div", "article", "section", "main", "li", "td", "blockquote", "pre")

  /**
   * DOM-level main-content extraction — the readability/trafilatura
   * primitive of web-corpus building: among block-level elements, pick
   * the one whose contained text is longest AFTER subtracting anchor
   * text (score = content_len − anchor_len), so navigation/link-farm
   * containers lose to prose even when their raw text is longer. Ties
   * break to the SMALLEST span (the most specific container: a `<p>`
   * beats the `<div>` that holds only it), then to document order.
   * Pages with no positive-scoring block yield no row.
   *
   * All lengths are BYTE lengths of text-node spans (no decode on the
   * scoring path). Plan shape: one parse, then two per-url containment
   * joins (equi-join on url + span range filter — url-bounded fan-out of
   * nodes-per-page² worst case, never a cartesian across pages), one
   * aggregation, one per-url top-1 window.
   *
   * @return (url, main_tag, start_byte, end_byte, content_len, anchor_len)
   */
  def mainContent(pages: DataFrame): DataFrame = scope {
    // the node table feeds three branches (text spans, anchors, block
    // candidates): materialize the slim projection once or the HTML parse
    // generator runs per branch.
    val nd = materialize(nodes(pages)
      .select(col("url"), col("kind"), col("name"),
        col("start_byte"), col("end_byte")))
    val texts0 = nd.where(col("kind") === "text")
      .select(col("url").as("turl"), col("start_byte").as("ts"), col("end_byte").as("te"))
    val anchors = nd.where(col("kind") === "element" && col("name") === "a")
      .select(col("url").as("aurl"), col("start_byte").as("as_"), col("end_byte").as("ae"))
    val texts = texts0.join(anchors,
        col("turl") === col("aurl") && col("ts") >= col("as_") && col("te") <= col("ae"),
        "left")
      .groupBy(col("turl"), col("ts"), col("te"))
      .agg((count(col("as_")) > 0).as("in_anchor"))
    val cands = nd
      .where(col("kind") === "element" && col("name").isInCollection(MainContentTags))
      .select(col("url").as("curl"), col("name"),
        col("start_byte").as("cs"), col("end_byte").as("ce"))
    val scored = cands.join(texts,
        col("curl") === col("turl") && col("ts") >= col("cs") && col("te") <= col("ce"),
        "left")
      .groupBy(col("curl"), col("name"), col("cs"), col("ce"))
      .agg(
        coalesce(sum(when(!col("in_anchor"), col("te") - col("ts"))), lit(0L)).as("content_len"),
        coalesce(sum(when(col("in_anchor"), col("te") - col("ts"))), lit(0L)).as("anchor_len"))
      .withColumn("__score", col("content_len") - col("anchor_len"))
    val w = Window.partitionBy("curl")
      .orderBy(col("__score").desc, (col("ce") - col("cs")).asc, col("cs").asc)
    scored.where(col("__score") > 0)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
      .select(col("curl").as("url"), col("name").as("main_tag"),
        col("cs").as("start_byte"), col("ce").as("end_byte"),
        col("content_len"), col("anchor_len"))
  }

  // ---- structural queries (Q1-Q3, tools/search.py:139-349) --------------

  /** Run one or more named extraction specs over the corpus (run_query).
   * `spec` may be comma-separated — all listed templates run over ONE
   * parse per page (see [[graft.functions.ExtractCapturesExpr]]). */
  def query(pages: DataFrame, spec: String, captureFilter: Option[String] = None,
      maxResults: Option[Int] = None): DataFrame = {
    val caps = pages.select(col("url"), extract_captures(col("html"), spec).as(Seq(
      "capture", "text", "start_byte", "end_byte",
      "start_row", "start_col", "end_row", "end_col")))
    val filtered = captureFilter.fold(caps)(f => caps.where(col("capture") === f))
    maxResults.fold(filtered)(filtered.limit)
  }

  /** Grouped symbol extraction (get_symbols, tools/analysis.py:22-261):
   * capture category → list of (text, location) structs. All specs run
   * over ONE parse per page (comma-joined spec list) — the former
   * per-spec union parsed every page once per spec, a 4× waste of the
   * dominant pipeline stage. */
  def symbols(pages: DataFrame, specs: Seq[String] = Seq("headings", "links", "meta", "title")): DataFrame = {
    val all = query(pages, specs.mkString(","))
    all.withColumn("symbol_type", split(col("capture"), "\\.").getItem(0))
      .groupBy("url", "symbol_type")
      .agg(sort_array(collect_list(struct(
        col("text"), col("start_row"), col("start_col")))).as("symbols"))
  }

  /** Per-page complexity metrics (analyze_complexity, analysis.py:803-927). */
  def complexity(pages: DataFrame): DataFrame =
    nodes(pages).groupBy("url").agg(
      sum(when(col("kind") === "element", 1L).otherwise(0L)).as("element_count"),
      sum(when(col("kind") === "text", 1L).otherwise(0L)).as("text_node_count"),
      sum(when(col("kind") === "comment", 1L).otherwise(0L)).as("comment_count"),
      max("depth").as("max_depth"),
      sum(when(col("name").isin("a", "img", "script", "link"), 1L).otherwise(0L))
        .as("reference_count"))

  /** Security/filter gate BEFORE parse (validate_file_access,
   * utils/security.py:11-55 + the 5 MB size gate config.py:39): drop
   * oversized pages and urls outside the allowed prefixes. */
  def securityGate(pages: DataFrame, maxBytes: Long = 5L * 1024 * 1024,
      allowedPrefixes: Seq[String] = Nil): DataFrame = {
    val sized = pages.where(length(col("html")) <= maxBytes)
    if (allowedPrefixes.isEmpty) sized
    else sized.where(allowedPrefixes.map(p => col("url").startsWith(p)).reduce(_ || _))
  }

  /** Config-object form of the gate (layered config, see [[EngineConfig]]):
   * session conf > explicit > defaults, resolved per call. */
  def securityGate(pages: DataFrame, cfg: EngineConfig): DataFrame = {
    val c = EngineConfig.resolve(pages.sparkSession, cfg)
    securityGate(pages, c.maxFileSizeBytes, c.allowedPrefixes)
  }

  /** Corpus structure stats (analyze_project_structure dir/ext counters,
   * tools/analysis.py:504-530): counts by site and by path extension,
   * with cube margins (the A2 grouping-sets flavour). */
  def corpusStats(pages: DataFrame): DataFrame =
    pages
      .withColumn("site", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
      .withColumn("ext", lower(substring_index(col("url"), ".", -1)))
      .cube(col("site"), col("ext"))
      .agg(count(lit(1)).as("n"), sum(length(col("html"))).cast("long").as("bytes"))

  /** Per-language sample of pages (key-files sampling, analysis.py:532-583):
   * first `depth` urls per lang — W3 row_number over a per-lang window. */
  def sampleByLang(pages: DataFrame, depth: Int): DataFrame =
    pages.withColumn("__rn",
      row_number().over(Window.partitionBy("lang").orderBy("url")))
      .where(col("__rn") <= depth).drop("__rn")

  /** Compact node summaries (summarize_node, models/ast.py:46-84): type,
   * points, ≤50-char first-line preview. `html` rides THROUGH the
   * generator projection (like [[nodesWithText]]) instead of being
   * re-attached by a join — the join shape re-shuffled every page's full
   * html bytes once per node row. */
  def summarizeNodes(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("html"), parse_html_nodes(col("html")).as(Seq(
      "node_id", "parent_id", "depth", "kind", "name", "attrs",
      "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
      "path", "children_count")))
      .withColumn("preview",
        substring(split(utf8_decode_replace(
          expr("substring(html, start_byte + 1, least(end_byte - start_byte, 200))")), "\n")
          .getItem(0), 0, 50))
      .select("url", "kind", "name", "start_row", "start_col", "end_row", "end_col", "preview")

  /** Range ANTI-join: drop nodes whose start falls inside any node of
   * `containerName` (the exclude_class_methods shape, P6/J4,
   * tools/analysis.py:287-305). */
  def excludeWithin(nodeDf: DataFrame, containerName: String): DataFrame = scope {
    // both the container extraction and the anti-join's left side read
    // nodeDf: materialize it once or the upstream (typically a full HTML
    // parse) runs per reference.
    val nd = materialize(nodeDf)
    val containers = nd.where(col("name") === containerName)
      .select(col("url").as("__curl"), col("start_byte").as("__cs"), col("end_byte").as("__ce"))
    nd.join(containers,
      col("url") === col("__curl") && col("name") =!= containerName &&
        col("start_byte") > col("__cs") && col("start_byte") < col("__ce"),
      "left_anti")
  }

  // ---- text search (X1, tools/search.py:12-136) --------------------------

  def findText(pages: DataFrame, term: String,
      caseInsensitive: Boolean = false, wholeWord: Boolean = false,
      regex: Boolean = false, maxPerDoc: Int = Int.MaxValue): DataFrame =
    TextAnalysis.textSearch(pages, "url", "text", term,
      caseInsensitive, wholeWord, regex, maxPerDoc)

  /** Corpus structure summary — the analyze_project composite
   * (tools/analysis.py:419-583): page/site/language totals, language
   * histogram, and symbol-type counts over a per-language sample. One
   * summary row; heavy lifting stays distributed, the row is metadata. */
  def analyzeCorpus(pages: DataFrame, sampleDepth: Int = 3): DataFrame = {
    val base = pages.withColumn("site", regexp_extract(col("url"), "^https?://([^/]+)/", 1))
    // sort INSIDE the aggregate: collect_list merges partial buffers in
    // shuffle-fetch order, so a pre-agg orderBy does not survive
    val sampleCounts = symbols(sampleByLang(pages, sampleDepth))
      .groupBy("symbol_type").agg(sum(size(col("symbols"))).as("n"))
      .select(concat_ws(":", col("symbol_type"), col("n")).as("v"))
      .agg(array_join(array_sort(collect_list(col("v"))), ",").as("sample_symbol_counts"))
    val langs = base.groupBy("lang").count()
      .select(concat_ws(":", col("lang"), col("count")).as("v"))
      .agg(array_join(array_sort(collect_list(col("v"))), ",").as("languages"))
    base.agg(
      count(lit(1)).as("n_pages"),
      countDistinct(col("site")).as("n_sites"),
      sum(length(col("html"))).cast("long").as("total_bytes"))
      .crossJoin(langs)
      .crossJoin(sampleCounts)
  }

  /** Search hits with ±n context lines (W1, tools/search.py:87-100):
   * a per-url line window collecting (line, text, is_match) structs. */
  def findTextWithContext(pages: DataFrame, term: String, context: Int): DataFrame = {
    val lines = pages.select(col("url"),
      posexplode(split(col("text"), "\n")).as(Seq("line0", "line_text")))
      .withColumn("line", (col("line0") + 1).cast("long")).drop("line0")
    val w = Window.partitionBy("url").orderBy("line").rowsBetween(-context, context)
    lines
      .withColumn("context", collect_list(struct(col("line"), col("line_text"))).over(w))
      .where(col("line_text").contains(term))
      .select(col("url"), col("line"), col("line_text"), col("context"))
  }

  /** Similarity join against a snippet (find_similar_code,
   * tools/search.py:401-501): containment |A∩B|/|A| + top-k. */
  def findSimilar(pages: DataFrame, snippet: String, threshold: Double, k: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val snipShingles = Seq(snippet).toDF("t")
      .withColumn("__ts", TextAnalysis.tokens(col("t")))
      .select(TextAnalysis.shinglesOf(col("__ts")).as("snip"))
    pages.withColumn("__ts", TextAnalysis.tokens(col("text")))
      .select(col("url"), TextAnalysis.shinglesOf(col("__ts")).as("sh"))
      .crossJoin(broadcast(snipShingles))
      .withColumn("similarity", round(
        size(array_intersect(col("sh"), col("snip"))).cast("double") /
          greatest(size(col("snip")), lit(1)), 4))
      .where(col("similarity") >= threshold)
      .orderBy(col("similarity").desc, col("url"))
      .limit(k)
      .select("url", "similarity")
  }

  /** Symbol-usage join (find_usage, tools/registration.py:574-611). */
  def findUsage(pages: DataFrame, spec: String, symbolText: String): DataFrame =
    query(pages, spec).where(col("text") === symbolText)

  /** Dependency extraction (get_dependencies, tools/analysis.py:644-797:
   * category-keyed deduped target sets). HTML analogue: link/image/script
   * targets categorized — geo: URIs, external hosts (target = host, the
   * "module" munging analogue), relative paths — deduped + sorted per
   * (url, category). `targets_str` is the '|'-joined sorted set (portable
   * to a SQL oracle; arrays of strings hash non-portably). */
  def dependencies(pages: DataFrame): DataFrame = {
    val caps = query(pages, "links,images") // one parse per page, both specs
      .where(col("capture").isin("link.href", "image.src"))
    caps
      .withColumn("category",
        when(col("capture") === "image.src", lit("image"))
          .when(col("text").startsWith("geo:"), lit("geo"))
          .when(col("text").rlike("^https?://"), lit("external"))
          .otherwise(lit("relative")))
      .withColumn("target",
        when(col("category") === "external",
          regexp_extract(col("text"), "^https?://([^/]+)", 1))
          .otherwise(col("text")))
      .groupBy("url", "category")
      .agg(concat_ws("|", sort_array(collect_set(col("target")))).as("targets_str"),
        count(lit(1)).cast("long").as("n_refs"))
  }

  /** Root→node paths (extract_node_path, models/ast.py:112-155):
   * precomputed at parse time as the `path` column; this is the thin
   * lookup API over it. */
  def nodePath(pages: DataFrame, url: String, nodeId: Long): DataFrame =
    nodes(pages.where(col("url") === url))
      .where(col("node_id") === nodeId)
      .select(col("url"), col("node_id"), col("path"))

  // ---- geo / spatial (the north rule) ------------------------------------

  /** Geo entities with cell ids at `res`. */
  def geoEntities(pages: DataFrame, res: Int): DataFrame =
    pages.select(col("url"), extract_geo(col("html")).as(Seq("entity_idx", "source", "lat", "lon")))
      .withColumn("cell_id", cell_id(col("lat"), col("lon"), res))

  /**
   * Embedding-cosine near-duplicate decision (driver instructions'
   * "embedding-cosine near-dup"): sign-LSH bucketed candidate pairs
   * (hamming-1 multi-probe, hash equi-join only — no all-pairs), exact
   * cosine ≥ `threshold` filter, then the transitive closure via
   * [[graft.operators.Dedup.dropKeys]] so every cluster keeps exactly its
   * min-key representative. Output (drop_key, keep_key).
   *
   * Scale: candidates per vector ≈ corpus·(bits+1)/2^bits; recall < 1 by
   * LSH construction (spec-tested against brute-force pairs on the
   * fixture) — raise `k`/lower `bits` to trade cost for recall.
   */
  def nearDupByEmbedding(vecs: DataFrame, key: String, vec: String,
      threshold: Double, k: Int = 10, bits: Int = 8): DataFrame = {
    val q = vecs.select(col(key).as("__q"), col(vec).as("__qv"))
    val pairs = Similarity.lshTopK(q, "__q", "__qv", vecs, key, vec, k, bits)
      .where(col("cos") >= threshold)
      // each undirected pair appears once: keep the (small, large) orientation
      .where(col("__q") < col(key))
      .select(col("__q").as("key_a"), col(key).as("key_b"))
    Dedup.dropKeys(pairs, "key_a", "key_b")
  }

  /**
   * The full training-data cleaning decision in one call — the composite
   * a 100 TB corpus pipeline runs before tokenization: per document,
   * `status` ∈ {exact_dup, near_dup, low_quality, keep} with that fixed
   * precedence. Exact dups keep the min-key survivor; near dups are the
   * transitive minhash-LSH clusters' non-survivors
   * ([[graft.operators.Dedup.dropKeys]]); quality = token count and
   * stopword-ratio floors (the C4-style heuristic gate).
   *
   * Every stage is a shuffle-bounded DataFrame op (digests, band keys,
   * component labels — never text) and the whole decision is
   * deterministic, so it has an exact SQL oracle (q58).
   */
  def cleanCorpus(docs: DataFrame, key: String, text: String,
      minTokens: Long = 5, minStopwordRatio: Double = 0.05,
      nearDupThreshold: Double = 0.5): DataFrame = {
    val withDigest = docs.select(col(key), md5(col(text).cast("binary")).as("__digest"))
    val exactDrop = withDigest
      .join(withDigest.groupBy("__digest").agg(min(col(key)).as("__keep")), "__digest")
      .where(col(key) =!= col("__keep"))
      .select(col(key)).withColumn("__exact", lit(true))
    val nearDrop = Dedup.dropKeys(
      Dedup.minhashLsh(docs, key, text, bands = 4, rowsPerBand = 2, nearDupThreshold),
      "key_a", "key_b")
      .select(col("drop_key").as(key)).withColumn("__near", lit(true))
    val sw = TextAnalysis.LangStopwords.flatMap(_._2).distinct
    // materialize the token arrays ONCE per row before deriving metrics:
    // HOF arguments are interpreted with no subexpression elimination, so
    // the inline form ran the tokenizer regex three times per document
    val lowQuality = docs
      .select(col(key), TextAnalysis.tokens(col(text)).as("__t"),
        TextAnalysis.tokens(lower(col(text))).as("__lt"))
      .select(col(key), size(col("__t")).cast("long").as("__nt"),
        (size(filter(col("__lt"), t => t.isInCollection(sw)))
          .cast("double") / size(col("__t"))).as("__swr"))
      .where(col("__nt") < minTokens || col("__swr") < minStopwordRatio)
      .select(col(key)).withColumn("__lowq", lit(true))
    docs.select(col(key))
      .join(exactDrop, Seq(key), "left_outer")
      .join(nearDrop, Seq(key), "left_outer")
      .join(lowQuality, Seq(key), "left_outer")
      .select(col(key),
        when(col("__exact"), "exact_dup")
          .when(col("__near"), "near_dup")
          .when(col("__lowq"), "low_quality")
          .otherwise("keep").as("status"))
  }

  // ---- metadata surface (list/describe tools) -----------------------------

  /** Query-template metadata (list_query_templates / get_query_template,
   * tools/registration.py:374-409). */
  def queryTemplates: Map[String, Seq[String]] = graft.parse.Extractor.SpecCaptures

  /** Node-kind documentation (get_node_types, query_builder.py:129-179). */
  def nodeTypes: Map[String, String] = graft.parse.HtmlParser.NodeTypes

  /** Payload-dialect availability — the reference's list_languages /
   * check_language_available surface (tools/registration.py:140-173:
   * installed-parser inventory + per-language availability probe). The
   * engine's "languages" are payload dialects; `real` distinguishes
   * from-scratch kernels from the clearly-marked sandbox stubs
   * (codec-requiring formats, [[graft.operators.Multimodal]]). */
  val payloadDialects: Seq[(String, String, Boolean)] = Seq(
    ("embedding", "deterministic stub embedder (swap point for a model)", false),
    ("html", "from-scratch byte parser (graft.parse.HtmlParser)", true),
    ("jpeg", "metadata stub (sandbox ships no image codec)", false),
    ("ppm", "from-scratch P6 codec (graft.operators.Multimodal)", true),
    ("text", "native string kernels (graft.operators.TextAnalysis)", true),
    ("video", "frame-offset stub (sandbox ships no video codec)", false),
    ("warc", "from-scratch WARC/1.0 reader+writer (graft.sources.Warc)", true),
    ("wav", "from-scratch RIFF/PCM16 codec (graft.operators.Multimodal)", true))

  /** check_language_available analogue: does a REAL kernel back `dialect`? */
  def dialectAvailable(dialect: String): Boolean =
    payloadDialects.exists(p => p._1 == dialect && p._3)
}
