package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Checkpoints

/**
 * URL canonicalization — the first dedup key of every web corpus (crawls
 * see the same page under case-shuffled hosts, default ports, fragment
 * anchors, tracking parameters and permuted query strings; Common Crawl
 * dedups on a canonical form for exactly this reason).
 *
 * Canonical form, applied in order:
 *  1. drop the fragment (`#…` — client-side only, never reaches the
 *     server);
 *  2. lowercase scheme and host (RFC 3986 §6.2.2.1 case normalization;
 *     path/query stay case-SENSITIVE);
 *  3. drop an explicit default port (`:80` for http, `:443` for https —
 *     RFC 3986 §6.2.3 scheme-based normalization);
 *  4. empty path → `/` (same section);
 *  5. drop tracking parameters (`utm_*`, `fbclid`, `gclid`, `msclkid` —
 *     analytics decoration, not content identity) and sort the survivors
 *     byte-wise, so parameter permutations collapse.
 *
 * Everything is built from codegen'd string/array builtins in the
 * PORTABLE subset (substring_index/split_part, substr, one anchored
 * regexp, list filter/sort/join) — a scan-side projection, no UDF, no
 * shuffle, and an exact DuckDB mirror for the oracle.
 */
object Urls {

  /** Query parameters stripped by [[canonical]]: pure tracking
   * decoration. Prefix match for utm_, exact name match for click ids. */
  val TrackingPrefixes: Seq[String] = Seq("utm_")
  val TrackingParams: Seq[String] = Seq("fbclid", "gclid", "msclkid")

  private def isTracking(p: Column): Column = {
    val name = substring_index(p, "=", 1)
    (TrackingPrefixes.map(pre => p.startsWith(pre)) ++
      TrackingParams.map(t => name === t))
      .reduce(_ || _)
  }

  /** Canonical form of `url` (must be scheme://host… shaped; rows that
   * aren't URLs pass through the string ops unharmed but get no
   * guarantees — gate upstream, as Engine.securityGate does). */
  def canonical(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    // after "://" — the lowered scheme has the raw scheme's length
    val rest = noFrag.substr(length(scheme) + 4, length(noFrag))
    val hostPort = lower(regexp_extract(rest, "^[^/?]*", 0))
    val host = when(scheme === "http" && hostPort.endsWith(":80"),
        hostPort.substr(lit(1), length(hostPort) - 3))
      .when(scheme === "https" && hostPort.endsWith(":443"),
        hostPort.substr(lit(1), length(hostPort) - 4))
      .otherwise(hostPort)
    val pathQuery = rest.substr(length(hostPort) + 1, length(rest))
    val path0 = substring_index(pathQuery, "?", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = when(pathQuery.contains("?"),
      pathQuery.substr(length(path0) + 2, length(pathQuery))).otherwise(lit(""))
    val params = filter(split(query, "&"), p => p =!= "" && !isTracking(p))
    val sortedQuery = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(sortedQuery === "", lit("")).otherwise(concat(lit("?"), sortedQuery)))
  }

  /** Per-canonical-URL census — how many raw variants collapse onto each
   * canonical form (the dedup key census a crawl runs before fetch). */
  def canonicalDedup(df: DataFrame, url: String): DataFrame =
    df.groupBy(canonical(col(url)).as("canonical_url"))
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col(url)).as("n_variants"))

  /**
   * Revisit handling — crawls re-fetch pages, so a raw capture table
   * holds many rows per page; corpora keep ONE. Per canonical URL
   * ([[canonical]] collapses tracking/fragment/case variants first):
   * keep the LATEST capture (ties break to the lexicographically largest
   * raw url — deterministic), and report `n_captures` plus `changed` =
   * whether any capture's content differed from any other's
   * (distinct xxhash64 of the content > 1) — the freshness/volatility
   * signal revisit policies feed on.
   *
   * One groupBy(canonical_url) with a max-of-struct argmax — no window,
   * no self-join; content bytes ride the shuffle once (the argmax struct
   * carries them, and every buffer merge COMPARES them byte-wise). Fine
   * while payloads are small; at 100 TB use [[latestCaptureRejoin]],
   * which keeps page bodies out of the argmax shuffle entirely.
   */
  def latestCapture(df: DataFrame, urlCol: String, tsCol: String,
      contentCol: String): DataFrame =
    df.groupBy(canonical(col(urlCol)).as("canonical_url"))
      .agg(
        max(struct(col(tsCol).as("ts"), col(urlCol).as("u"),
          col(contentCol).as("c"))).as("__best"),
        count(lit(1)).as("n_captures"),
        (countDistinct(xxhash64(col(contentCol))) > 1).as("changed"))
      .select(col("canonical_url"), col("__best.ts").as(tsCol),
        col("__best.u").as(urlCol), col("__best.c").as(contentCol),
        col("n_captures"), col("changed"))

  /**
   * [[latestCapture]] for page-body-sized content — the 100-TB default.
   * Same contract and result rows, different shuffle shape: the argmax
   * struct carries only (ts, url, digest) — slim fixed-width rows, so the
   * canonical-url groupBy (the skewed exchange: hot sites have millions
   * of captures) never moves or compares page bytes — and the winning
   * payloads are fetched afterwards by ONE equi-join on
   * (url, ts, digest), a well-distributed key (no canonical-url skew:
   * every capture has a distinct raw (url, ts)), where each payload
   * crosses the wire at most once. Captures sharing the exact
   * (url, ts, digest) triple are interchangeable by construction
   * (identical digest ⇒ identical bytes up to 64-bit collision), so the
   * payload side deduplicates on the triple before the join to keep it
   * multiplicity-safe.
   *
   * Tie-break note: within one canonical URL the argmax orders by
   * (ts, url, digest) — the digest only breaks ties between captures
   * sharing (ts, url), where [[latestCapture]]'s byte-wise comparison is
   * also content-determined, just in raw-byte rather than digest order.
   * Both orders are deterministic; row-set equality on every
   * (ts, url)-unique input is pinned in UrlsSpec.
   */
  def latestCaptureRejoin(df: DataFrame, urlCol: String, tsCol: String,
      contentCol: String): DataFrame = {
    val withD = df.withColumn("__d", xxhash64(col(contentCol)))
    val best = withD
      .groupBy(canonical(col(urlCol)).as("canonical_url"))
      .agg(
        max(struct(col(tsCol).as("ts"), col(urlCol).as("u"), col("__d").as("d"))).as("__best"),
        count(lit(1)).as("n_captures"),
        (countDistinct(col("__d")) > 1).as("changed"))
      .select(col("canonical_url"), col("__best.ts").as(tsCol),
        col("__best.u").as(urlCol), col("__best.d").as("__d"),
        col("n_captures"), col("changed"))
    val payloads = withD
      .select(col(urlCol), col(tsCol), col("__d"), col(contentCol))
      .dropDuplicates(urlCol, tsCol, "__d")
    best.join(payloads, Seq(urlCol, tsCol, "__d"))
      .select(col("canonical_url"), col(tsCol), col(urlCol), col(contentCol),
        col("n_captures"), col("changed"))
  }

  // ======== robots.txt (RFC 9309) crawl gate ==============================

  private def hostOf(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val rest = noFrag.substr(length(substring_index(noFrag, "://", 1)) + 4, length(noFrag))
    lower(regexp_extract(rest, "^[^/?]*", 0))
  }

  private def pathOf(url: Column): Column = {
    val noFrag = substring_index(url, "#", 1)
    val rest = noFrag.substr(length(substring_index(noFrag, "://", 1)) + 4, length(noFrag))
    val hostPort = regexp_extract(rest, "^[^/?]*", 0)
    val path0 = substring_index(rest.substr(length(hostPort) + 1, length(rest)), "?", 1)
    when(path0 === "", lit("/")).otherwise(path0)
  }

  /**
   * Parse per-host robots.txt into the wildcard group's prefix rules —
   * the crawl politeness gate every Common-Crawl-style pipeline runs
   * before fetch (and re-runs over stored robots snapshots when
   * re-filtering an existing corpus).
   *
   * RFC 9309 semantics, scoped and documented:
   *  - groups = consecutive `User-agent:` lines followed by their rules;
   *    a rule belongs to a group iff one of the group's agents is `*`
   *    (specific-agent groups are ignored — this engine crawls as the
   *    generic agent); rules before any User-agent line belong to no
   *    group and are dropped, as the RFC requires;
   *  - `Allow:` / `Disallow:` values are PLAIN path prefixes; rules using
   *    the RFC's optional `*` / `$` wildcards are excluded (out of
   *    scope — callers needing them should pre-expand), and an empty
   *    `Disallow:` (= no restriction) is dropped;
   *  - `#` starts a comment; field names are case-insensitive; values
   *    keep their case (paths are case-sensitive).
   *
   * Plan shape: split + posexplode of the robots text (row-local), one
   * per-host window pass to assign directive lines to their group (robots
   * files are KiB-sized, so per-host partitions are trivially small), an
   * equi-semi-join against the `*` groups. Output: (host, path, allow).
   */
  def robotsRules(robots: DataFrame, hostCol: String, textCol: String): DataFrame =
    rulesFrom(robotsBlocks(robots, hostCol, textCol))

  private def rulesFrom(withBlock: DataFrame): DataFrame =
    withBlock
      .where(col("path").isNotNull && col("path") =!= "" &&
        !col("path").contains("*") && !col("path").contains("$"))
      .join(starBlocksOf(withBlock), Seq("host", "block"), "left_semi")
      .select(col("host"), col("path"), col("is_allow").as("allow"))
      .distinct()

  /** [[robotsRules]] + [[robotsCrawlDelay]] over ONE parse of the robots
   * corpus: both consume the classified-line/group table, and a caller
   * needing both (the q116 front door) otherwise evaluates the explode +
   * per-host window twice. The shared blocks frame is checkpointed; both
   * returned frames read it — release after the last action over either. */
  def robotsTables(robots: DataFrame, hostCol: String, textCol: String):
      (DataFrame, DataFrame) = Checkpoints.scope {
    val blocks = Checkpoints.materialize(robotsBlocks(robots, hostCol, textCol))
    (rulesFrom(blocks), delayFrom(blocks))
  }

  /** Classified robots lines with their group id (shared by
   * [[robotsRules]] and [[robotsCrawlDelay]]). */
  private def robotsBlocks(robots: DataFrame, hostCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "raw")))
      .withColumn("line", trim(substring_index(col("raw"), "#", 1)))
    val lw = lower(col("line"))
    val classified = lines.select(col("host"), col("pos"), col("line"),
      lw.startsWith("user-agent:").as("is_ua"),
      when(lw.startsWith("user-agent:"), trim(expr("substring(line, 12)"))).as("ua"),
      when(lw.startsWith("disallow:"), trim(expr("substring(line, 10)")))
        .when(lw.startsWith("allow:"), trim(expr("substring(line, 7)"))).as("path"),
      lw.startsWith("allow:").as("is_allow"),
      when(lw.startsWith("crawl-delay:"), trim(expr("substring(line, 13)"))).as("delay"))
    val w = Window.partitionBy("host").orderBy("pos")
    classified
      .withColumn("new_block",
        (col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false))).cast("int"))
      .withColumn("block",
        sum(col("new_block")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def starBlocksOf(withBlock: DataFrame): DataFrame =
    withBlock.where(col("is_ua") && lower(col("ua")) === "*")
      .select(col("host"), col("block")).distinct()

  /**
   * Per-host `Crawl-delay` from the wildcard group (the de-facto
   * politeness extension honored by Bing/Yandex): seconds as DOUBLE
   * (fractional delays occur in the wild); the FIRST parseable value in
   * a `*` group wins; hosts with none (or no `*` group) emit no row —
   * join `left` and coalesce to the crawler's default. Output:
   * (host, crawl_delay).
   */
  def robotsCrawlDelay(robots: DataFrame, hostCol: String, textCol: String): DataFrame =
    delayFrom(robotsBlocks(robots, hostCol, textCol))

  private def delayFrom(withBlock: DataFrame): DataFrame =
    withBlock
      .where(col("delay").isNotNull && col("delay").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .join(starBlocksOf(withBlock), Seq("host", "block"), "left_semi")
      .groupBy(col("host"))
      .agg(min(struct(col("pos"), col("delay").cast("double").as("d"))).as("__first"))
      .select(col("host"), col("__first.d").as("crawl_delay"))

  /**
   * Fetchability decision for a URL table against [[robotsRules]] output:
   * among the host's rules whose path is a prefix of the URL's path, the
   * LONGEST wins; on a length tie, Allow wins; no matching rule (or no
   * robots for the host) = fetchable — all per RFC 9309 §2.2.2.
   *
   * The decision is one equi-join on host (the prefix test is a
   * post-join filter — never a cartesian) plus a max-of-struct aggregate:
   * (len, allow) ordered lexicographically IS the RFC precedence, so the
   * whole rule evaluation is a codegen'd max, no window, no sort. Hosts
   * must match textually (lowercased, port included) between the URLs
   * and the rules' host column.
   *
   * CALLER NOTE: `urls` is referenced TWICE in the plan — once for the
   * distinct (host, path) decision pairs and once for the payload
   * join-back (the shape that keeps page bodies out of the decision
   * aggregate). An expensive upstream is therefore evaluated twice
   * unless materialized first: q116's capture-collapse input measured
   * 10.9 s un-materialized vs 1.5 s behind a localCheckpoint. Persist or
   * checkpoint non-trivial pipelines before gating them — the collapsed
   * capture table is a natural storage boundary anyway.
   */
  def robotsFilter(urls: DataFrame, urlCol: String, rules: DataFrame): DataFrame = {
    val withHp = urls
      .withColumn("__h", hostOf(col(urlCol)))
      .withColumn("__p", pathOf(col(urlCol)))
    val decisions = withHp.select(col("__h"), col("__p")).distinct()
      .join(rules, col("__h") === rules("host") && col("__p").startsWith(rules("path")))
      .groupBy(col("__h").as("__dh"), col("__p").as("__dp"))
      .agg(max(struct(length(col("path")).as("l"), col("allow").cast("int").as("a"))).as("__best"))
      .select(col("__dh"), col("__dp"), (col("__best.a") === 1).as("__fetch"))
    withHp
      .join(decisions, col("__h") === col("__dh") && col("__p") === col("__dp"), "left")
      .withColumn("fetchable", coalesce(col("__fetch"), lit(true)))
      .drop("__h", "__p", "__dh", "__dp", "__fetch")
  }
}
