package graft.parse

import scala.collection.mutable.ArrayBuffer
import java.io.ByteArrayOutputStream
import graft.core.Utf8

/**
 * Extraction layer over [[HtmlParser]] — the HTML analogue of the
 * reference's tree-sitter query templates + text projection:
 *
 *  - `extractText` is the byte-identity kernel: slice text-node bytes in
 *    document order (skipping script/style raw text), decode character
 *    entities at the byte level, concatenate. Mirrors the reference's
 *    node-text projection `source_bytes[start:end]` + late UTF-8 decode
 *    (reference: utils/tree_sitter_helpers.py:239-261); the per-url output
 *    must be byte-identical (BASELINE.json input_hint).
 *  - `capturesMulti(specs)` mirrors named query templates (reference:
 *    language/templates/&lt;lang&gt;.py, lookup language/query_templates.py:8-23):
 *    each spec yields capture rows `(capture, text, byte/point range)`
 *    exactly like reference tools/search.py:233-249 rows.
 *  - `geoEntities` extracts the geo coordinates used by the spatial-join
 *    half (meta geo.position / ICBM, geo: URIs, microdata lat/lon pairs).
 */
object Extractor {

  /** One capture row (reference row shape: tools/search.py:233-249). */
  final case class Capture(
      capture: String,
      text: String,
      startByte: Int, endByte: Int,
      startRow: Int, startCol: Int, endRow: Int, endCol: Int)

  final case class GeoEntity(entityIdx: Int, source: String, lat: Double, lon: Double)

  /** Capture names each spec can emit, in spec order — the
   * query-template metadata surface (reference: get_query_template /
   * list_query_templates, tools/registration.py:374-409). `heading.hN` /
   * `meta.<name>` are families (suffix varies with the document). */
  val SpecCaptures: scala.collection.immutable.ListMap[String, Seq[String]] =
    scala.collection.immutable.ListMap(
    "links" -> Seq("link.href", "link.text"),
    "images" -> Seq("image.src"),
    "headings" -> Seq("heading.h1", "heading.h2", "heading.h3",
      "heading.h4", "heading.h5", "heading.h6"),
    "title" -> Seq("title"),
    "meta" -> Seq("meta.<name>"),
    "geo_meta" -> Seq("geo.geo.position", "geo.ICBM"),
    "geo_uri" -> Seq("geo.uri"),
    "microdata" -> Seq("geo.latitude", "geo.longitude"))

  val SpecNames: Seq[String] = SpecCaptures.keys.toSeq

  // ---------------------------------------------------------------------
  // Entity decoding (byte level: entity -> UTF-8 bytes of the codepoint)
  // ---------------------------------------------------------------------
  private val Named: Map[String, Int] = {
    val core = Map(
      "amp" -> '&'.toInt, "lt" -> '<'.toInt, "gt" -> '>'.toInt,
      "quot" -> '"'.toInt, "apos" -> '\''.toInt)
    // HTML 3.2/4.0 Latin-1 set (U+00A0..U+00FF), in codepoint order
    val latin1 = Seq(
      "nbsp", "iexcl", "cent", "pound", "curren", "yen", "brvbar", "sect",
      "uml", "copy", "ordf", "laquo", "not", "shy", "reg", "macr",
      "deg", "plusmn", "sup2", "sup3", "acute", "micro", "para", "middot",
      "cedil", "sup1", "ordm", "raquo", "frac14", "frac12", "frac34", "iquest",
      "Agrave", "Aacute", "Acirc", "Atilde", "Auml", "Aring", "AElig", "Ccedil",
      "Egrave", "Eacute", "Ecirc", "Euml", "Igrave", "Iacute", "Icirc", "Iuml",
      "ETH", "Ntilde", "Ograve", "Oacute", "Ocirc", "Otilde", "Ouml", "times",
      "Oslash", "Ugrave", "Uacute", "Ucirc", "Uuml", "Yacute", "THORN", "szlig",
      "agrave", "aacute", "acirc", "atilde", "auml", "aring", "aelig", "ccedil",
      "egrave", "eacute", "ecirc", "euml", "igrave", "iacute", "icirc", "iuml",
      "eth", "ntilde", "ograve", "oacute", "ocirc", "otilde", "ouml", "divide",
      "oslash", "ugrave", "uacute", "ucirc", "uuml", "yacute", "thorn", "yuml"
    ).zipWithIndex.map { case (n, i) => n -> (0xa0 + i) }
    val common = Map(
      "euro" -> 0x20ac, "trade" -> 0x2122, "hellip" -> 0x2026,
      "ndash" -> 0x2013, "mdash" -> 0x2014,
      "lsquo" -> 0x2018, "rsquo" -> 0x2019, "ldquo" -> 0x201c, "rdquo" -> 0x201d,
      "bull" -> 0x2022, "dagger" -> 0x2020, "Dagger" -> 0x2021,
      "permil" -> 0x2030, "lsaquo" -> 0x2039, "rsaquo" -> 0x203a,
      "oelig" -> 0x153, "OElig" -> 0x152, "scaron" -> 0x161, "Scaron" -> 0x160,
      "fnof" -> 0x192, "circ" -> 0x2c6, "tilde" -> 0x2dc,
      "ensp" -> 0x2002, "emsp" -> 0x2003, "thinsp" -> 0x2009,
      "zwnj" -> 0x200c, "zwj" -> 0x200d, "lrm" -> 0x200e, "rlm" -> 0x200f,
      "larr" -> 0x2190, "uarr" -> 0x2191, "rarr" -> 0x2192, "darr" -> 0x2193,
      "harr" -> 0x2194, "minus" -> 0x2212, "infin" -> 0x221e, "ne" -> 0x2260,
      "le" -> 0x2264, "ge" -> 0x2265)
    core ++ latin1 ++ common
  }

  /** Decode `&name;` / `&#NN;` / `&#xHH;` within src[s,e) into `out`.
   * Unknown or malformed entities are passed through literally. */
  def decodeEntitiesInto(src: Array[Byte], s: Int, e: Int, out: ByteArrayOutputStream): Unit = {
    var i = s
    while (i < e) {
      val b = src(i) & 0xff
      if (b != '&') { out.write(b); i += 1 }
      else {
        var j = i + 1
        var cp = -1
        if (j < e && (src(j) & 0xff) == '#') {
          j += 1
          var hex = false
          if (j < e && ((src(j) & 0xff) == 'x' || (src(j) & 0xff) == 'X')) { hex = true; j += 1 }
          var v = 0L
          val ds = j
          while (j < e && isHexOrDec(src(j) & 0xff, hex) && j - ds < 8) {
            v = v * (if (hex) 16 else 10) + hexVal(src(j) & 0xff); j += 1
          }
          if (j > ds && j < e && (src(j) & 0xff) == ';' && v <= 0x10ffff && !(v >= 0xd800 && v <= 0xdfff)) {
            cp = v.toInt; j += 1
          }
        } else {
          val ns = j
          while (j < e && isAsciiAlnum(src(j) & 0xff) && j - ns < 10) j += 1
          if (j > ns && j < e && (src(j) & 0xff) == ';') {
            val name = new String(src, ns, j - ns, java.nio.charset.StandardCharsets.US_ASCII)
            Named.get(name) match {
              case Some(c) => cp = c; j += 1
              case None    => // unknown: literal
            }
          }
        }
        if (cp >= 0) { writeUtf8(out, cp); i = j }
        else { out.write('&'); i += 1 }
      }
    }
  }

  @inline private def isAsciiAlnum(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')
  @inline private def isHexOrDec(c: Int, hex: Boolean): Boolean =
    (c >= '0' && c <= '9') || (hex && ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
  @inline private def hexVal(c: Int): Int =
    if (c <= '9') c - '0' else if (c <= 'F') c - 'A' + 10 else c - 'a' + 10

  private def writeUtf8(out: ByteArrayOutputStream, cp: Int): Unit = {
    if (cp < 0x80) out.write(cp)
    else if (cp < 0x800) { out.write(0xc0 | (cp >> 6)); out.write(0x80 | (cp & 0x3f)) }
    else if (cp < 0x10000) {
      out.write(0xe0 | (cp >> 12)); out.write(0x80 | ((cp >> 6) & 0x3f)); out.write(0x80 | (cp & 0x3f))
    } else {
      out.write(0xf0 | (cp >> 18)); out.write(0x80 | ((cp >> 12) & 0x3f))
      out.write(0x80 | ((cp >> 6) & 0x3f)); out.write(0x80 | (cp & 0x3f))
    }
  }

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s // fast path: nothing to decode
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new ByteArrayOutputStream(b.length)
    decodeEntitiesInto(b, 0, b.length, out)
    Utf8.decodeReplace(out.toByteArray)
  }

  // ---------------------------------------------------------------------
  // Text extraction (the per-url byte-identity invariant)
  // ---------------------------------------------------------------------

  /** Raw concatenated text-node bytes (entities decoded), excluding
   * script/style content, in document order. */
  def extractTextBytes(html: Array[Byte]): Array[Byte] = {
    val res = HtmlParser.parse(html)
    extractTextBytes(res)
  }

  def extractTextBytes(res: HtmlParser.ParseResult): Array[Byte] = {
    val out = new ByteArrayOutputStream(res.source.length / 2 + 16)
    val t = res.nodes
    var i = 0
    while (i < t.length) {
      if (t.kind(i) == HtmlParser.Text && !t.isRawText(i))
        decodeEntitiesInto(res.source, t.startByte(i), t.endByte(i), out)
      i += 1
    }
    out.toByteArray
  }

  def extractText(html: Array[Byte]): String = Utf8.decodeReplace(extractTextBytes(html))

  // ---------------------------------------------------------------------
  // Capture specs (reference query-template analogue, SURVEY §2.8 Q3)
  // ---------------------------------------------------------------------

  /** Multi-spec extraction over ONE parse — the corpus hot path for
   * symbol/dependency pipelines that need several templates per page
   * (parse dominates their cost; a union of per-spec calls re-parses the
   * page once per spec). The element list is also built ONCE and shared
   * across specs. Capture rows come out in spec order. */
  def capturesMulti(res: HtmlParser.ParseResult, specs: Seq[String]): Seq[Capture] = {
    val out = new ArrayBuffer[Capture]
    val t = res.nodes
    val els = (0 until t.length).filter(t.kind(_) == HtmlParser.Element)
    specs.foreach(sp => capturesInto(res, sp, els, out))
    out.toSeq
  }

  private def cap(res: HtmlParser.ParseResult, i: Int, name: String, text: String) = {
    val s = res.nodes.startByte(i); val e = res.nodes.endByte(i)
    Capture(name, text, s, e, res.row(s), res.col(s), res.row(e), res.col(e))
  }

  /** Concatenated, entity-decoded text of a container element's direct and
   * nested text nodes (bounded by its byte range), excluding script/style
   * raw text — the same exclusion extractTextBytes applies (a nested
   * <script> inside a captured element is code, not its text).
   *
   * SUBTREE-LOCAL: nodes are in document order (start bytes
   * non-decreasing), so a binary search finds the element's position and
   * the walk stops at its end byte — O(log n + subtree) per element, not
   * O(n). The old full-scan form was quadratic on element-heavy pages
   * (the links spec calls this once per `<a>`). */
  private def innerText(res: HtmlParser.ParseResult, el: Int): String = {
    val t = res.nodes
    val elStart = t.startByte(el); val elEnd = t.endByte(el)
    var lo = 0; var hi = t.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (t.startByte(mid) < elStart) lo = mid + 1 else hi = mid
    }
    val out = new ByteArrayOutputStream(32)
    var i = lo
    while (i < t.length && t.startByte(i) < elEnd) {
      if (t.kind(i) == HtmlParser.Text && t.endByte(i) <= elEnd && !t.isRawText(i))
        decodeEntitiesInto(res.source, t.startByte(i), t.endByte(i), out)
      i += 1
    }
    Utf8.decodeReplace(out.toByteArray)
  }

  private def capturesInto(res: HtmlParser.ParseResult, spec: String,
      els: IndexedSeq[Int], out: ArrayBuffer[Capture]): Unit = {
    val t = res.nodes
    spec match {
      case "links" =>
        els.filter(t.name(_) == "a").foreach { a =>
          t.attr(a, "href").foreach(h => out += cap(res, a, "link.href", decodeEntities(h)))
          out += cap(res, a, "link.text", innerText(res, a))
        }
      case "images" =>
        els.filter(t.name(_) == "img").foreach { im =>
          t.attr(im, "src").foreach(s => out += cap(res, im, "image.src", decodeEntities(s)))
        }
      case "headings" =>
        els.filter { e =>
          val nm = t.name(e)
          nm.length == 2 && nm.charAt(0) == 'h' && nm.charAt(1) >= '1' && nm.charAt(1) <= '6'
        }.foreach(h => out += cap(res, h, "heading." + t.name(h), innerText(res, h)))
      case "title" =>
        els.filter(t.name(_) == "title").foreach(e => out += cap(res, e, "title", innerText(res, e)))
      case "meta" =>
        els.filter(t.name(_) == "meta").foreach { m =>
          for (nm <- t.attr(m, "name"); cv <- t.attr(m, "content"))
            out += cap(res, m, "meta." + nm, decodeEntities(cv))
        }
      case "geo_meta" =>
        els.filter(t.name(_) == "meta").foreach { m =>
          val nm = t.attr(m, "name").getOrElse("")
          if (nm == "geo.position" || nm == "ICBM")
            t.attr(m, "content").foreach(cv => out += cap(res, m, "geo." + nm, decodeEntities(cv)))
        }
      case "geo_uri" =>
        els.filter(t.name(_) == "a").foreach { a =>
          t.attr(a, "href").foreach { h =>
            if (h.startsWith("geo:")) out += cap(res, a, "geo.uri", decodeEntities(h))
          }
        }
      case "microdata" =>
        els.foreach { e =>
          t.attr(e, "itemprop").foreach { p =>
            if (p == "latitude" || p == "longitude")
              out += cap(res, e, "geo." + p, innerText(res, e))
          }
        }
      case other =>
        throw new IllegalArgumentException(
          s"unknown extraction spec '$other' (known: ${SpecNames.mkString(", ")})")
    }
  }

  // ---------------------------------------------------------------------
  // Geo entities (feeds the spatial join; SURVEY §7.2)
  // ---------------------------------------------------------------------

  /** Parse "lat;lon" / "lat, lon" / "geo:lat,lon" deterministically.
   * Returns entities in document order with a stable index; source-type
   * groups emit in fixed order (meta, uri, microdata) — identical to the
   * capture-spec formulation, but in ONE pass with no intermediate
   * Capture rows (this is the 10^12-row hot path; the capture-based form
   * allocated 3 node-table scans per page and measurably capped thread
   * scaling). */
  def geoEntities(html: Array[Byte]): Seq[GeoEntity] = {
    val res = HtmlParser.parse(html)
    val nodes = res.nodes
    val metas = new ArrayBuffer[(String, String)](2)
    val uris = new ArrayBuffer[(String, String)](2)
    val latSpans = new ArrayBuffer[Int](1)
    val lonSpans = new ArrayBuffer[Int](1)
    var n = 0
    while (n < nodes.length) {
      if (nodes.kind(n) == HtmlParser.Element) {
        if (nodes.name(n) == "meta") {
          val nm = nodes.attr(n, "name").getOrElse("")
          if (nm == "geo.position" || nm == "ICBM") nodes.attr(n, "content").foreach { cv =>
            val t = decodeEntities(cv)
            val sep = { val a = t.indexOf(';'); if (a >= 0) a else t.indexOf(',') }
            val more = sep >= 0 && { // exactly one separator (two fields)
              val rest = t.substring(sep + 1)
              rest.indexOf(';') < 0 && rest.indexOf(',') < 0
            }
            if (more) metas += ((t.substring(0, sep).trim, t.substring(sep + 1).trim))
          }
        } else if (nodes.name(n) == "a") {
          nodes.attr(n, "href").foreach { h =>
            if (h.startsWith("geo:")) {
              val t = decodeEntities(h)
              val body = t.substring(4).takeWhile(ch => ch != ';' && ch != '?')
              val c = body.indexOf(',')
              if (c >= 0) uris += ((body.substring(0, c).trim, body.substring(c + 1).trim))
            }
          }
        } else {
          nodes.attr(n, "itemprop") match {
            case Some("latitude")  => latSpans += n
            case Some("longitude") => lonSpans += n
            case _ =>
          }
        }
      }
      n += 1
    }
    val out = new ArrayBuffer[GeoEntity](metas.length + uris.length + latSpans.length)
    var idx = 0
    def add(src: String, latS: String, lonS: String): Unit = {
      (parseD(latS), parseD(lonS)) match {
        case (Some(la), Some(lo)) if la >= -90 && la <= 90 && lo >= -180 && lo <= 180 =>
          out += GeoEntity(idx, src, la, lo); idx += 1
        case _ =>
      }
    }
    metas.foreach { case (a, b) => add("meta", a, b) }
    uris.foreach { case (a, b) => add("uri", a, b) }
    latSpans.zip(lonSpans).foreach { case (la, lo) =>
      add("microdata", innerText(res, la).trim, innerText(res, lo).trim)
    }
    out.toSeq
  }

  private def parseD(s: String): Option[Double] =
    try {
      if (s.isEmpty || !s.forall(c => (c >= '0' && c <= '9') || c == '.' || c == '-' || c == '+')) None
      else Some(java.lang.Double.parseDouble(s))
    } catch { case _: NumberFormatException => None }
}
