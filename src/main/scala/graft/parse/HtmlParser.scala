package graft.parse

import scala.collection.mutable.ArrayBuffer
import graft.core.Utf8

/**
 * Pure, stack-safe (explicit stack, zero recursion — the reference walks
 * iteratively too, models/ast_cursor.py:12-183), byte-offset-exact HTML
 * parser. Bytes-first discipline: tag/attr scanning is ASCII-safe over raw
 * UTF-8 bytes; decoding to String happens only for small name/value slices
 * and at text-extraction time (reference: utils/file_io.py:25-36 reads
 * binary; utils/tree_sitter_helpers.py:253-258 decodes late).
 *
 * Grammar (intentionally small and fully deterministic — no locale, no
 * floats, no time):
 *   - `<!-- ... -->` comment (unterminated runs to EOF)
 *   - `<!...>` doctype/declaration
 *   - `</name>` end tag — pops to the nearest matching open element,
 *     implicitly closing children; ignored if no matching element is open
 *   - `<name attrs>` / `<name attrs/>` start tag; void elements never push
 *   - `<script>`/`<style>` content is raw text until the matching close tag
 *     (ASCII case-insensitive), matching tree-sitter-html's raw_text
 *   - anything else after `<` is literal text
 *
 * The output is one flat node table ([[HtmlParser.NodeTable]]): the
 * relational encoding of the reference's AST node (models/
 * ast_cursor.py:45-58) with a parent index and depth in place of nesting
 * and half-open byte ranges [startByte, endByte). Node ids, children
 * counts and paths are derived by the one consumer that emits them
 * (`ParseNodeTableExpr`); row/col points come from
 * [[HtmlParser.ParseResult.row]]/[[HtmlParser.ParseResult.col]].
 */
object HtmlParser {

  /** Node-kind documentation (reference: get_node_types /
   * describe_node_types, tools/query_builder.py:129-179 — a static
   * metadata map over the grammar's node inventory). */
  val NodeTypes: Map[String, String] = Map(
    "document" -> "the root node spanning the whole byte stream",
    "element" -> "a tag with lowercased name, attributes, and children",
    "text" -> "a raw text run (entity decoding happens at extraction)",
    "comment" -> "a <!-- --> comment (unterminated runs to EOF)",
    "doctype" -> "a <! declaration")

  val VoidElements: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  val RawTextElements: Set[String] = Set("script", "style")

  /** Kind codes of [[NodeTable.kind]]; `KindNames(code)` is the kind's
   * emitted name. */
  final val Document = 0
  final val Element = 1
  final val Text = 2
  final val Comment = 3
  final val Doctype = 4
  val KindNames: IndexedSeq[String] = Vector("document", "element", "text", "comment", "doctype")

  /** Deterministic 64-bit node id (stand-in for the reference's salted
   * Python hash; SURVEY §2.11 standardizes on a stable mix). */
  def nodeId(startByte: Int, endByte: Int, kindOrName: String): Long = {
    var h = 0xcbf29ce484222325L // FNV-1a over the triple, then avalanche
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    mix(startByte.toLong); mix(endByte.toLong)
    var i = 0
    while (i < kindOrName.length) { mix(kindOrName.charAt(i).toLong); i += 1 }
    // fmix64 avalanche (public MurmurHash3 finalizer)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
    h
  }

  /** Interned lookup for frequent names, keyed by (length, first byte).
   * Returns null when the span is not a known name (caller allocates). */
  private val InternTable: Array[Array[String]] = {
    val names = Seq(
      "a", "p", "b", "i", "u", "s", "q",
      "h1", "h2", "h3", "h4", "h5", "h6", "br", "hr", "td", "tr", "th",
      "ul", "ol", "li", "em", "id",
      "div", "img", "pre", "nav", "src", "rel", "alt",
      "html", "head", "body", "meta", "link", "span", "form", "main", "href",
      "name", "type", "lang",
      "title", "table", "style", "class", "input", "aside",
      "script", "footer", "header", "strong", "button", "content",
      "section", "article", "itemprop")
    val table = Array.fill(16, 256)(null: String).map(_.clone())
    names.foreach { n =>
      if (n.length < 16) table(n.length)(n.charAt(0).toInt) match {
        case null => table(n.length)(n.charAt(0).toInt) = n
        case _ => // first-come keeps the slot; later names fall back to alloc
      }
    }
    table
  }

  private def internedName(src: Array[Byte], s: Int, e: Int): String = {
    val len = e - s
    if (len <= 0 || len >= 16) return null
    val c0 = { val c = src(s) & 0xff; if (c >= 'A' && c <= 'Z') c + 32 else c }
    val cand = InternTable(len)(c0)
    if (cand == null) return null
    var i = 1
    while (i < len) {
      val c = { val x = src(s + i) & 0xff; if (x >= 'A' && x <= 'Z') x + 32 else x }
      if (c != cand.charAt(i).toInt) return null
      i += 1
    }
    cand
  }

  /**
   * The nodes of one parse as columns, in document order: start bytes
   * never decrease and a parent precedes its children. Node 0 is the
   * document (parent -1, depth 0).
   */
  final class NodeTable private[HtmlParser] () {
    private var kinds = new Array[Byte](64)
    private var names = new Array[String](64)
    private var attrLists = new Array[Seq[(String, String)]](64)
    private var parents = new Array[Int](64)
    private var depths = new Array[Int](64)
    private var starts = new Array[Int](64)
    private var ends = new Array[Int](64)
    private var n = 0

    def length: Int = n
    def kind(i: Int): Int = kinds(i)
    /** Tag name (lowercased) for elements, "" otherwise. */
    def name(i: Int): String = names(i)
    /** Attributes in source order, duplicates kept; values raw (entities
     * undecoded). */
    def attrs(i: Int): Seq[(String, String)] = attrLists(i)
    def attr(i: Int, key: String): Option[String] =
      attrLists(i).collectFirst { case (k, v) if k == key => v }
    /** Index of the parent node, -1 for the document. */
    def parent(i: Int): Int = parents(i)
    def depth(i: Int): Int = depths(i)
    def startByte(i: Int): Int = starts(i)
    def endByte(i: Int): Int = ends(i)
    /** A text node inside a script/style element: code, not content, so
     * every text projection skips it. */
    def isRawText(i: Int): Boolean = kinds(i) == Text && {
      val p = parents(i)
      kinds(p) == Element && RawTextElements.contains(names(p))
    }

    private[HtmlParser] def add(kind: Int, name: String, attrs: Seq[(String, String)],
        parent: Int, depth: Int, start: Int, end: Int): Int = {
      if (n == kinds.length) {
        val cap = 2 * n
        kinds = java.util.Arrays.copyOf(kinds, cap)
        names = java.util.Arrays.copyOf(names, cap)
        attrLists = java.util.Arrays.copyOf(attrLists, cap)
        parents = java.util.Arrays.copyOf(parents, cap)
        depths = java.util.Arrays.copyOf(depths, cap)
        starts = java.util.Arrays.copyOf(starts, cap)
        ends = java.util.Arrays.copyOf(ends, cap)
      }
      kinds(n) = kind.toByte; names(n) = name; attrLists(n) = attrs
      parents(n) = parent; depths(n) = depth; starts(n) = start; ends(n) = end
      n += 1
      n - 1
    }
    private[HtmlParser] def setEnd(i: Int, end: Int): Unit = ends(i) = end
  }

  final class ParseResult(val nodes: NodeTable, val source: Array[Byte]) {
    def text(i: Int): String = Utf8.decodeReplace(source, nodes.startByte(i), nodes.endByte(i))

    private lazy val lineStarts: Array[Int] = {
      val ls = new ArrayBuffer[Int](16)
      ls += 0
      var p = 0
      while (p < source.length) { if (source(p) == '\n') ls += p + 1; p += 1 }
      ls.toArray
    }

    /** Tree-sitter point row of byte offset `off`: the newlines before it. */
    def row(off: Int): Int = {
      val ls = lineStarts
      var lo = 0; var hi = ls.length - 1
      while (lo < hi) { val mid = (lo + hi + 1) >>> 1; if (ls(mid) <= off) lo = mid else hi = mid - 1 }
      lo
    }

    /** Tree-sitter point column of byte offset `off`: BYTES since its
     * line's start. */
    def col(off: Int): Int = off - lineStarts(row(off))
  }

  def parse(src: Array[Byte]): ParseResult = {
    val n = src.length
    val out = new NodeTable
    // open elements, as node indices; the document is never on it
    var stack = new Array[Int](16)
    var sp = 0

    out.add(Document, "", Nil, -1, 0, 0, n)

    def emit(kind: Int, name: String, attrs: Seq[(String, String)], s: Int, e: Int): Int =
      out.add(kind, name, attrs, if (sp == 0) 0 else stack(sp - 1), sp + 1, s, e)

    @inline def at(i: Int): Int = src(i) & 0xff
    @inline def isAsciiAlpha(c: Int): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    @inline def isSpace(c: Int): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f'
    @inline def lower(c: Int): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

    /** ASCII-lowercased string of src[s,e) (names only — never payload).
     * Common tag/attr names return interned constants — no allocation on
     * the hot path (one string per element otherwise). */
    def asciiLower(s: Int, e: Int): String = {
      val interned = HtmlParser.internedName(src, s, e)
      if (interned != null) return interned
      val sb = new java.lang.StringBuilder(e - s)
      var i = s
      while (i < e) { sb.append(lower(at(i)).toChar); i += 1 }
      sb.toString
    }

    /** case-insensitive match of ASCII `lit` at position i */
    def matches(i: Int, lit: String): Boolean = {
      if (i + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        if (lower(at(i + k)) != lit.charAt(k).toInt) return false
        k += 1
      }
      true
    }

    var i = 0
    var textStart = -1

    def flushText(endExcl: Int): Unit = {
      if (textStart >= 0 && endExcl > textStart) emit(Text, "", Nil, textStart, endExcl)
      textStart = -1
    }

    while (i < n) {
      val c = at(i)
      if (c != '<') {
        if (textStart < 0) textStart = i
        i += 1
      } else {
        // decide what this '<' starts
        if (matches(i, "<!--")) {
          flushText(i)
          var j = i + 4
          var end = -1
          while (end < 0 && j < n) {
            if (at(j) == '-' && matches(j, "-->")) end = j + 3 else j += 1
          }
          val e = if (end < 0) n else end
          emit(Comment, "", Nil, i, e)
          i = e
        } else if (i + 1 < n && at(i + 1) == '!') {
          flushText(i)
          var j = i + 2
          while (j < n && at(j) != '>') j += 1
          val e = if (j < n) j + 1 else n
          emit(Doctype, "", Nil, i, e)
          i = e
        } else if (i + 2 < n && at(i + 1) == '/' && isAsciiAlpha(at(i + 2))) {
          // end tag (must start with a letter — "</3" is literal text, HTML5-style)
          var j = i + 2
          val ns = j
          while (j < n && (isAsciiAlpha(at(j)) || (at(j) >= '0' && at(j) <= '9') || at(j) == '-')) j += 1
          locally {
            flushText(i)
            val name = asciiLower(ns, j)
            while (j < n && at(j) != '>') j += 1
            val e = if (j < n) j + 1 else n
            // find matching open element (scan from top)
            var k = sp - 1
            while (k >= 0 && out.name(stack(k)) != name) k -= 1
            if (k >= 0) {
              // implicitly close everything above, then the match
              while (sp > k) {
                sp -= 1
                out.setEnd(stack(sp), if (sp == k) e else i)
              }
            } // else: stray close tag — ignored (reference grammar tolerance)
            i = e
          }
        } else if (i + 1 < n && isAsciiAlpha(at(i + 1))) {
          // start tag
          flushText(i)
          var j = i + 1
          val ns = j
          while (j < n && (isAsciiAlpha(at(j)) || (at(j) >= '0' && at(j) <= '9') || at(j) == '-')) j += 1
          val name = asciiLower(ns, j)
          // attributes
          val attrs = new ArrayBuffer[(String, String)](4)
          var selfClose = false
          var done = false
          while (!done && j < n) {
            while (j < n && isSpace(at(j))) j += 1
            if (j < n && at(j) == '>') { j += 1; done = true }
            else if (j < n && at(j) == '/' && j + 1 < n && at(j + 1) == '>') { j += 2; selfClose = true; done = true }
            else if (j >= n) done = true
            else {
              // attr name
              val as = j
              while (j < n && !isSpace(at(j)) && at(j) != '=' && at(j) != '>' && at(j) != '/') j += 1
              if (j == as) { j += 1 } // stray char; skip
              else {
                val aname = asciiLower(as, j)
                while (j < n && isSpace(at(j))) j += 1
                var avalue = ""
                if (j < n && at(j) == '=') {
                  j += 1
                  while (j < n && isSpace(at(j))) j += 1
                  if (j < n && (at(j) == '"' || at(j) == '\'')) {
                    val q = at(j); j += 1
                    val vs = j
                    while (j < n && at(j) != q) j += 1
                    avalue = Utf8.decodeReplace(src, vs, j)
                    if (j < n) j += 1
                  } else {
                    val vs = j
                    while (j < n && !isSpace(at(j)) && at(j) != '>') j += 1
                    avalue = Utf8.decodeReplace(src, vs, j)
                  }
                }
                attrs += ((aname, avalue))
              }
            }
          }
          val tagEnd = j
          val idx = emit(Element, name, attrs.toSeq, i, tagEnd) // endByte patched if pushed
          if (RawTextElements.contains(name) && !selfClose) {
            // raw text until matching close tag
            var k = tagEnd
            var close = -1
            val closeLit = "</" + name
            while (close < 0 && k < n) {
              if (at(k) == '<' && matches(k, closeLit)) close = k else k += 1
            }
            val rawEnd = if (close < 0) n else close
            if (rawEnd > tagEnd) {
              out.add(Text, "", Nil, idx, out.depth(idx) + 1, tagEnd, rawEnd)
            }
            var e = rawEnd
            if (close >= 0) {
              var m = close + closeLit.length
              while (m < n && at(m) != '>') m += 1
              e = if (m < n) m + 1 else n
            }
            out.setEnd(idx, e)
            i = e
          } else if (selfClose || VoidElements.contains(name)) {
            i = tagEnd // leaf element; endByte already = tagEnd
          } else {
            if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, 2 * sp)
            stack(sp) = idx
            sp += 1
            i = tagEnd
          }
        } else {
          // lone '<' — literal text
          if (textStart < 0) textStart = i
          i += 1
        }
      }
    }
    flushText(n)
    // close any still-open elements at EOF
    while (sp > 0) { sp -= 1; out.setEnd(stack(sp), n) }
    new ParseResult(out, src)
  }
}

