package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.sources.Fixtures

class EngineSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val pages = Fixtures.pages(spark, 200, partitions = 4).toDF()

  test("languageHistogram and listPages glob semantics") {
    val hist = Engine.languageHistogram(pages).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist.values.sum == 200 && hist.keySet == Set("en", "de", "fr", "ja"))
    val news = Engine.listPages(pages, "https://*.example/news/*.html")
    assert(news.count() == pages.where(col("url").contains("/news/")).count())
    assert(Engine.listPages(pages, "https://site1.example/**").count() ==
      pages.where(col("url").startsWith("https://site1.example/")).count())
  }

  test("pageMetadata, pageLines") {
    val md = Engine.pageMetadata(pages)
    assert(md.where(col("size_bytes") <= 0).count() == 0)
    assert(Engine.pageLines(pages, 0, 2).count() == 200)
  }

  test("nodeAtPosition finds the most-specific containing node") {
    val url = pages.select("url").orderBy("url").first().getString(0)
    // byte 0 row 0 col 0 is inside the doctype
    val hit = Engine.nodeAtPosition(pages, url, 0, 1).collect()(0)
    assert(hit.getAs[String]("kind") == "doctype")
  }

  test("query + symbols grouping") {
    val heads = Engine.query(pages, "headings", captureFilter = Some("heading.h1"))
    assert(heads.count() == 200)
    val sym = Engine.symbols(pages)
    assert(sym.where(col("symbol_type") === "heading").count() == 200)
    assert(sym.columns.toSet == Set("url", "symbol_type", "symbols"))
    val err = intercept[Exception](Engine.query(pages, "not_a_spec").collect())
    assert(err.getMessage.contains("links") || err.getCause != null)
  }

  test("complexity metrics") {
    val c = Engine.complexity(pages)
    assert(c.count() == 200)
    assert(c.where(col("max_depth") < 3).count() == 0)
    assert(c.where(col("comment_count") =!= 1).count() == 0) // fixture has 1 comment/page
  }

  test("findText modes") {
    assert(Engine.findText(pages, "Entity").count() == 200)
    assert(Engine.findText(pages, "entity", caseInsensitive = true).count() >= 200)
    assert(Engine.findText(pages, "ntity", wholeWord = true).count() == 0)
    // wholeWord + caseInsensitive combine (reference compiles \b…\b with
    // re.IGNORECASE, tools/search.py:52-54)
    assert(Engine.findText(pages, "entity", wholeWord = true).count() == 0)
    assert(Engine.findText(pages, "entity", wholeWord = true,
      caseInsensitive = true).count() == 200)
  }

  test("findText per-doc budget and analyzeCorpus composite") {
    // 'e' appears on several lines of every page; cap to 2 per doc
    val capped = Engine.findText(pages, "e", maxPerDoc = 2)
    assert(capped.groupBy("url").count().where(col("count") > 2).count() == 0)
    assert(capped.count() == 400) // 200 pages × 2 (every page has ≥2 hits)
    // budget keeps the FIRST hits in line order
    val firstLines = capped.groupBy("url").agg(min("line").as("m"))
    assert(firstLines.where(col("m") =!= 1).count() ==
      Engine.findText(pages, "e").groupBy("url").agg(min("line").as("m"))
        .where(col("m") =!= 1).count())

    val summary = Engine.analyzeCorpus(pages, sampleDepth = 2).collect().head
    assert(summary.getAs[Long]("n_pages") == 200)
    assert(summary.getAs[Long]("n_sites") == 100)
    assert(summary.getAs[String]("languages").split(',').length == 4)
    assert(summary.getAs[String]("sample_symbol_counts").contains("heading:"))
  }

  test("findText regex mode (use_regex analogue, incl. case-insensitive)") {
    // every page's h1 text is "Entity <i>"
    assert(Engine.findText(pages, "Entity [0-9]+", regex = true).count() == 200)
    assert(Engine.findText(pages, "entity [0-9]+", regex = true).count() == 0)
    assert(Engine.findText(pages, "entity [0-9]+", regex = true,
      caseInsensitive = true).count() == 200)
    // regex metachars are live in regex mode, quoted in whole-word mode
    assert(Engine.findText(pages, "core-\\d+", regex = true).count() == 200)
  }

  test("dependencies: categorized deduped target sets") {
    val deps = Engine.dependencies(pages)
    assert(deps.columns.toSet == Set("url", "category", "targets_str", "n_refs"))
    // fixture anchors are geo: URIs; pages with >=2 entities have them
    val geo = deps.where(col("category") === "geo")
    val expect = (0L until 200L).count(i => Fixtures.pageEntities(i).size >= 2)
    assert(geo.count() == expect)
    assert(deps.where(!col("category").isin("geo", "external", "relative", "image")).count() == 0)
    // targets are deduped and sorted
    val one = geo.orderBy("url").first()
    val ts = one.getAs[String]("targets_str").split('|').toSeq
    assert(ts == ts.distinct.sorted)
  }

  test("nodePath API and EngineConfig layering") {
    val url = pages.select("url").orderBy("url").first().getString(0)
    val anyNode = Engine.nodes(pages.where(col("url") === url))
      .where(col("name") === "h1").select("node_id").first().getLong(0)
    val p = Engine.nodePath(pages, url, anyNode).first()
      .getAs[scala.collection.Seq[String]]("path").toSeq
    assert(p == Seq("document", "html", "body", "h1"))

    // config precedence: session conf > explicit > defaults
    val explicit = EngineConfig(maxFileSizeBytes = 7L << 20)
    assert(EngineConfig.resolve(spark, explicit).maxFileSizeBytes == 7L << 20)
    assert(EngineConfig.resolve(spark).maxFileSizeBytes == 5L * 1024 * 1024)
    assert(EngineConfig.resolve(spark).allowedPrefixes.isEmpty)
    spark.conf.set("spark.graft.maxFileSizeBytes", (3L << 20).toString)
    spark.conf.set("spark.graft.allowedPrefixes", "https://site1.example/,https://site2.example/")
    try {
      val r = EngineConfig.resolve(spark, explicit)
      assert(r.maxFileSizeBytes == 3L << 20)
      assert(r.allowedPrefixes == Seq("https://site1.example/", "https://site2.example/"))
      val gated = Engine.securityGate(pages, EngineConfig())
      assert(gated.count() ==
        pages.where(col("url").startsWith("https://site1.example/") ||
          col("url").startsWith("https://site2.example/")).count())
    } finally {
      spark.conf.unset("spark.graft.maxFileSizeBytes")
      spark.conf.unset("spark.graft.allowedPrefixes")
    }
  }

  test("nodesToDepth caps depth and marks cap-level nodes truncated") {
    val capped = Engine.nodesToDepth(pages, maxDepth = 2)
    assert(capped.where(col("depth") > 2).count() == 0)
    // reference parity (models/ast_cursor.py:123-126): EVERY node at the
    // cap is truncated, leaf or not; nodes above the cap never are
    assert(capped.where(col("truncated") =!= (col("depth") === 2)).count() == 0)
    val truncated = capped.where(col("truncated"))
    assert(truncated.count() > 0)
    // and some truncated node really has children beyond the cap
    val full = Engine.nodes(pages)
    val t0 = truncated.where(col("children_count") > 0)
      .select("url", "node_id").as[(String, Long)].first()
    assert(full.where(col("url") === t0._1 && col("parent_id") === t0._2).count() > 0)
  }

  test("EngineConfig YAML layer: conf > explicit > yaml > defaults") {
    val yaml = java.nio.file.Paths.get(tempDir("graft_cfg"), "engine.yaml")
    java.nio.file.Files.write(yaml,
      """# engine config
        |security:
        |  max_file_size_mb: 2.5   # trailing comment
        |  allowed_prefixes: "https://a.example/#frag, https://b.example/"
        |max_results: 42   # not a config key: ignored
        |cache:
        |  enabled: true   # unknown section key: ignored
        |""".stripMargin.getBytes("UTF-8"))
    val fromY = EngineConfig.fromYaml(yaml.toString)
    // fractional mb parses; '#' inside a value is literal (only
    // whitespace-preceded '#' starts a comment)
    assert(fromY.maxFileSizeBytes == (2.5 * 1024 * 1024).toLong)
    assert(fromY.allowedPrefixes == Seq("https://a.example/#frag", "https://b.example/"))
    // a double-quoted scalar's escapes decode: \" is a quote, no backslash kept
    val escaped = java.nio.file.Paths.get(tempDir("graft_cfg"), "escaped.yaml")
    java.nio.file.Files.write(escaped,
      """security:
        |  allowed_prefixes: "https://q.example/?s=\"a b\", https://r.example/\"x\""
        |""".stripMargin.getBytes("UTF-8"))
    assert(EngineConfig.fromYaml(escaped.toString).allowedPrefixes ==
      Seq("https://q.example/?s=\"a b\"", "https://r.example/\"x\""))
    // yaml overrides the `base` defaults it is layered on
    val base = EngineConfig(maxFileSizeBytes = 1L, allowedPrefixes = Seq("https://base.example/"))
    assert(EngineConfig.fromYaml(yaml.toString, base) == fromY)
    // explicit overrides yaml; session conf overrides both
    val explicit = fromY.copy(maxFileSizeBytes = 5L)
    assert(EngineConfig.resolve(spark, explicit).maxFileSizeBytes == 5L)
    assert(EngineConfig.resolve(spark, explicit).allowedPrefixes == fromY.allowedPrefixes)
    spark.conf.set("spark.graft.maxFileSizeBytes", "99")
    spark.conf.set("spark.graft.allowedPrefixes", "https://c.example/")
    try {
      val r = EngineConfig.resolve(spark, explicit)
      assert(r.maxFileSizeBytes == 99L && r.allowedPrefixes == Seq("https://c.example/"))
    } finally {
      spark.conf.unset("spark.graft.maxFileSizeBytes")
      spark.conf.unset("spark.graft.allowedPrefixes")
    }
  }

  test("metadata surface: templates, node types, table catalog, config report") {
    assert(Engine.queryTemplates.keySet == graft.parse.Extractor.SpecNames.toSet)
    assert(Engine.queryTemplates("links") == Seq("link.href", "link.text"))
    assert(Engine.nodeTypes.keySet ==
      Set("document", "element", "text", "comment", "doctype"))
    // a dialect is available only when a real kernel backs it
    assert(Engine.dialectAvailable("html") && Engine.dialectAvailable("wav"))
    assert(!Engine.dialectAvailable("jpeg")) // stub
    assert(!Engine.dialectAvailable("cobol")) // unknown
    // every spec's fixed captures actually appear on the fixture corpus
    val caps = Engine.query(pages, "links").select("capture").distinct()
      .collect().map(_.getString(0)).toSet
    assert(caps == Set("link.href", "link.text"))

    val root = tempDir("graft_cat")
    graft.snap.SnapshotCatalog.resumableRun(spark,
      pages.select("url", "lang"), "url", 2, root, "tA")(identity)
    graft.snap.SnapshotCatalog.resumableRun(spark,
      pages.select("url", "lang"), "url", 2, root, "tB")(identity)
    assert(graft.snap.SnapshotCatalog.listTables(root) == Seq("tA", "tB"))
    graft.snap.SnapshotCatalog.dropTable(root, "tA")
    assert(graft.snap.SnapshotCatalog.listTables(root) == Seq("tB"))

    val rep = EngineConfig.describe(spark, EngineConfig(maxFileSizeBytes = 7L))
    assert(rep.keySet == Set("maxFileSizeBytes", "allowedPrefixes"))
    assert(rep("maxFileSizeBytes") == ("7", "explicit"))
    assert(rep("allowedPrefixes") == ("", "default"))
    spark.conf.set("spark.graft.allowedPrefixes", "https://d.example/")
    try assert(EngineConfig.describe(spark)("allowedPrefixes") == ("https://d.example/", "session-conf"))
    finally spark.conf.unset("spark.graft.allowedPrefixes")
  }

  test("findSimilar containment top-k") {
    val txt = pages.where(col("url").contains("/0.html")).select("text").first().getString(0)
    val top = Engine.findSimilar(pages, txt, 0.5, 5).collect()
    assert(top.nonEmpty)
    assert(top.head.getDouble(1) == 1.0) // the page itself
  }

  test("securityGate, corpusStats, sampleByLang") {
    assert(Engine.securityGate(pages, maxBytes = 100).count() == 0)
    assert(Engine.securityGate(pages).count() == 200)
    assert(Engine.securityGate(pages, allowedPrefixes = Seq("https://site1.example/")).count() ==
      pages.where(col("url").startsWith("https://site1.example/")).count())
    val stats = Engine.corpusStats(pages)
    // cube: grand total row has both site and ext null
    val total = stats.where(col("site").isNull && col("ext").isNull).select("n").first().getLong(0)
    assert(total == 200)
    val sampled = Engine.sampleByLang(pages, 3)
    assert(sampled.count() == 12) // 4 langs x 3
  }

  test("findTextWithContext returns a window around hits") {
    val hits = Engine.findTextWithContext(pages, "Entity", 1).collect()
    assert(hits.length == 200)
    hits.take(5).foreach { r =>
      val ctx = r.getSeq[org.apache.spark.sql.Row](3)
      assert(ctx.nonEmpty && ctx.size <= 3)
      assert(ctx.exists(_.getLong(0) == r.getLong(1))) // the hit line itself
    }
  }

  test("summarizeNodes previews and excludeWithin anti-join") {
    val sums = Engine.summarizeNodes(pages.limit(5))
    assert(sums.where(length(col("preview")) > 50).count() == 0)
    val n = Engine.nodes(pages.limit(10))
    val outside = Engine.excludeWithin(n, "body")
    // everything inside body is dropped; html/head/title/meta/doctype remain
    assert(outside.where(col("name") === "h1").count() == 0)
    assert(outside.where(col("name") === "title").count() == 10)
  }

  test("geoEntities + spatial surface") {
    val g = Engine.geoEntities(pages, 8)
    assert(g.count() > 200) // >= 1 entity per page (meta duplicated by ICBM)
    assert(g.where(col("cell_id").isNull).count() == 0)
  }

  test("mainContent: anchor penalty beats nav, ties go to the tightest block, chromeless pages drop") {
    def mk(url: String, html: String) =
      (url, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), "en", "t", "s")
    val prose = "real article prose with plenty of ordinary words in it"
    val df = Seq(
      // nav div has MORE raw text than the article p, but it is all links
      mk("u1", "<html><body>" +
        "<div><a href=\"/a\">navigation item one</a><a href=\"/b\">navigation item two</a>" +
        "<a href=\"/c\">navigation item three xxxx</a></div>" +
        s"<div><p>$prose</p></div></body></html>"),
      // tie between the wrapper div and its only p: the p (smaller span) wins
      mk("u2", s"<html><body><div><p>$prose</p></div></body></html>"),
      // no block-level candidate at all -> no row
      mk("u3", "<html><body><h1>only chrome</h1></body></html>"))
      .toDF("url", "warc_ts", "html", "lang", "title", "source")
    val got = Engine.mainContent(df).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == Set("u1", "u2"))
    assert(got("u1") == (("p", prose.length.toLong, 0L)), got.toString)
    assert(got("u2")._1 == "p")
    // a link-only page: the nav div scores <= 0 and is dropped
    val navOnly = Seq(mk("u4",
      "<html><body><div><a href=\"/x\">l</a></div></body></html>"))
      .toDF("url", "warc_ts", "html", "lang", "title", "source")
    assert(Engine.mainContent(navOnly).count() == 0)
    // containment joins are url-equi-joins — never a cross-page cartesian
    val plan = Engine.mainContent(df).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(400))
  }

  test("sitemapUrls: loc entries with optional lastmod, prolog tolerated, per-document isolation") {
    val sm1 = """<?xml version="1.0"?><urlset>
      |<url><loc>https://a.com/1</loc><lastmod>2026-01-02</lastmod></url>
      |<url><loc> https://a.com/2 </loc></url>
      |<url><lastmod>2026-01-03</lastmod></url>
      |</urlset>""".stripMargin
    val sm2 = "<urlset><url><loc>https://b.com/x</loc></url></urlset>"
    val got = Engine.sitemapUrls(
        Seq(("a.com", sm1), ("b.com", sm2)).toDF("host", "xml"), "host", "xml")
      .as[(String, String, Option[String])].collect().toSet
    assert(got == Set(
      ("a.com", "https://a.com/1", Some("2026-01-02")),
      ("a.com", "https://a.com/2", None),          // loc trimmed, no lastmod
      ("b.com", "https://b.com/x", None)))         // entries never cross documents
  }
}
