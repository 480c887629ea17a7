package graft.parse

import org.scalatest.funsuite.AnyFunSuite

class ExtractorSpec extends AnyFunSuite {
  private def b(s: String) = s.getBytes("UTF-8")
  private def captures(html: String, spec: String) =
    Extractor.capturesMulti(HtmlParser.parse(b(html)), Seq(spec))

  test("extractText: text nodes in order, script/style excluded") {
    val html = "<html><head><title>T</title><style>p{color:red}</style></head>" +
      "<body><h1>H</h1><script>var x=1;</script><p>body text</p></body></html>"
    assert(Extractor.extractText(b(html)) == "THbody text")
  }

  test("extractText: entities decoded at byte level") {
    assert(Extractor.extractText(b("<p>a &amp; b &lt;c&gt; &#233; &#x20AC; &unknown; &amp</p>")) ==
      "a & b <c> é € &unknown; &amp")
  }

  test("extractText: byte identity incl. invalid UTF-8 islands") {
    val bytes = "<p>ok".getBytes("UTF-8") ++ Array[Byte](-1, -2) ++ "rest</p>".getBytes("UTF-8")
    val out = Extractor.extractTextBytes(bytes)
    assert(out.sameElements("ok".getBytes("UTF-8") ++ Array[Byte](-1, -2) ++ "rest".getBytes("UTF-8")))
    // decoded form replaces each invalid byte
    assert(Extractor.extractText(bytes) == "ok��rest")
  }

  test("captures: links with entity-decoded hrefs and inner text") {
    val caps = captures("""<a href="x?a=1&amp;b=2">first <b>link</b></a><a>no href</a>""", "links")
    assert(caps.map(_.capture) == Seq("link.href", "link.text", "link.text"))
    assert(caps(0).text == "x?a=1&b=2")
    assert(caps(1).text == "first link")
  }

  test("captures: headings, title, meta") {
    val html = """<title>t</title><h1>one</h1><h2>two</h2><meta name="k" content="v">"""
    assert(captures(html, "headings").map(c => (c.capture, c.text)) ==
      Seq(("heading.h1", "one"), ("heading.h2", "two")))
    assert(captures(html, "title").head.text == "t")
    assert(captures(html, "meta").head.capture == "meta.k")
  }

  test("geoEntities: all three sources, document order, range-validated") {
    val html =
      """<meta name="geo.position" content="52.52;13.405">
        |<meta name="ICBM" content="40.7, -74.0">
        |<a href="geo:-33.86,151.20">syd</a>
        |<span itemprop="latitude">48.85</span><span itemprop="longitude">2.35</span>
        |<meta name="geo.position" content="99.0;0.0">""".stripMargin
    val es = Extractor.geoEntities(b(html))
    assert(es.map(e => (e.entityIdx, e.source, e.lat, e.lon)) == Seq(
      (0, "meta", 52.52, 13.405),
      (1, "meta", 40.7, -74.0),
      (2, "uri", -33.86, 151.20),
      (3, "microdata", 48.85, 2.35)))
  }

  test("capture positions match node byte ranges") {
    val html = "<h1>H</h1>"
    val c = captures(html, "headings").head
    assert(html.substring(c.startByte, c.endByte) == html)
    assert(c.startRow == 0 && c.startCol == 0)
  }

  test("unknown spec throws with known-spec list") {
    val e = intercept[IllegalArgumentException](captures("<p>x</p>", "nope"))
    assert(e.getMessage.contains("links"))
  }

  test("capturesMulti: one parse, union of per-spec captures in spec order") {
    val html = b("""<title>t</title><h1>one</h1><a href="u">lnk</a><img src="i.png">""")
    val res = HtmlParser.parse(html)
    val multi = Extractor.capturesMulti(res, Seq("headings", "links", "title", "images"))
    val singles = Seq("headings", "links", "title", "images")
      .flatMap(sp => Extractor.capturesMulti(res, Seq(sp)))
    assert(multi == singles)
    assert(multi.map(_.capture) ==
      Seq("heading.h1", "link.href", "link.text", "title", "image.src"))
  }

  test("innerText stays subtree-local on wide pages") {
    // 200 sibling anchors before and after the probed one: each link.text
    // must be exactly its own label (a cross-subtree scan would leak
    // neighbours' text); deep nesting inside one anchor is included
    val many = (0 until 401).map {
      case 200 => "<a href=\"h\"><b>mid<i>dle</i></b></a>"
      case i   => s"<a>t$i</a>"
    }.mkString
    val caps = captures(s"<body>$many</body>", "links")
    val texts = caps.filter(_.capture == "link.text").map(_.text)
    assert(texts.length == 401)
    assert(texts(200) == "middle")
    assert(texts(0) == "t0" && texts(400) == "t400")
  }
}
