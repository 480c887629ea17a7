package graft.parse

import scala.collection.mutable.ArrayBuffer
import graft.core.Utf8

/**
 * A node of the parsed HTML document, flattened (relational encoding:
 * parent_id + depth instead of nesting), mirroring the reference's AST
 * node shape (reference: models/ast_cursor.py:45-58 — {id, type,
 * start_point{row,column}, end_point, start_byte, end_byte, named}).
 *
 * - `id` is deterministic: hash of (startByte, endByte, kind/name) like the
 *   reference's `hash((start_byte, end_byte, type))` (ast_cursor.py:41-42),
 *   but with a stable 64-bit mix (Python's hash is process-salted; SURVEY §2.11).
 * - positions are tree-sitter points: row = newline count, col = BYTE offset
 *   within the line.
 * - byte ranges are half-open [startByte, endByte).
 * Root→node name paths (the reference's extract_node_path,
 * models/ast.py:112-155) live on [[HtmlParser.ParseResult.paths]] — LAZY,
 * so the flagship extract-geo hot path (which never asks for paths) pays
 * nothing for them (SURVEY §2.9 T3).
 */
final case class HtmlNode(
    id: Long,
    parentId: Long,
    depth: Int,
    kind: String, // document | element | text | comment | doctype
    name: String, // tag name (lowercased) for elements, "" otherwise
    attrs: Seq[(String, String)],
    startByte: Int,
    endByte: Int,
    startRow: Int,
    startCol: Int,
    endRow: Int,
    endCol: Int,
    childrenCount: Int) { // reference node field (ast_cursor.py:58)
  def attr(key: String): Option[String] = attrs.collectFirst { case (k, v) if k == key => v }
}

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

  final case class ParseResult(nodes: IndexedSeq[HtmlNode], source: Array[Byte],
      parentIdx: Array[Int]) {
    def text(n: HtmlNode): String = Utf8.decodeReplace(source, n.startByte, n.endByte)

    /** Root→node paths (self inclusive; element name, kind otherwise),
     * aligned with `nodes` by index. Lazy: only callers that ask for
     * paths (ParseHtmlNodesExpr) pay for them — parents precede children
     * in emit order, so one forward pass suffices. */
    lazy val paths: Array[Vector[String]] = {
      val out = new Array[Vector[String]](nodes.length)
      var i = 0
      while (i < nodes.length) {
        val n = nodes(i)
        val key = if (n.kind == "element") n.name else n.kind
        out(i) = if (parentIdx(i) < 0) Vector(key) else out(parentIdx(i)) :+ key
        i += 1
      }
      out
    }
  }

  // ---- internal open-element bookkeeping --------------------------------
  private final class Open(
      val name: String,
      val attrs: Seq[(String, String)],
      val startByte: Int,
      val nodeIdx: Int) // index in `out` to patch endByte later

  // mutable node under construction (endByte patched on close)
  private final class Pending(
      var id: Long,
      var parentId: Long,
      var depth: Int,
      var kind: String,
      var name: String,
      var attrs: Seq[(String, String)],
      var startByte: Int,
      var endByte: Int)

  def parse(src: Array[Byte]): ParseResult = {
    val n = src.length
    val out = new ArrayBuffer[Pending](64)
    val stack = new ArrayBuffer[Open](16)

    val rootIdx = out.length
    out += new Pending(0L, -1L, 0, "document", "", Nil, 0, n)

    def curParentIdx: Int = if (stack.isEmpty) rootIdx else stack.last.nodeIdx
    def curDepth: Int = stack.length + 1

    def emit(kind: String, name: String, attrs: Seq[(String, String)], s: Int, e: Int): Int = {
      val idx = out.length
      out += new Pending(0L, curParentIdx.toLong, curDepth, kind, name, attrs, s, e)
      idx
    }

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
      if (textStart >= 0 && endExcl > textStart) emit("text", "", Nil, textStart, endExcl)
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
          emit("comment", "", Nil, i, e)
          i = e
        } else if (i + 1 < n && at(i + 1) == '!') {
          flushText(i)
          var j = i + 2
          while (j < n && at(j) != '>') j += 1
          val e = if (j < n) j + 1 else n
          emit("doctype", "", Nil, i, e)
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
            var k = stack.length - 1
            while (k >= 0 && stack(k).name != name) k -= 1
            if (k >= 0) {
              // implicitly close everything above, then the match
              while (stack.length > k) {
                val o = stack.remove(stack.length - 1)
                val endB = if (stack.length == k) e else i
                out(o.nodeIdx).endByte = endB
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
          val idx = emit("element", name, attrs.toSeq, i, tagEnd) // endByte patched if pushed
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
              out += new Pending(0L, idx.toLong, curDepth + 1, "text", "", Nil, tagEnd, rawEnd)
            }
            var e = rawEnd
            if (close >= 0) {
              var m = close + closeLit.length
              while (m < n && at(m) != '>') m += 1
              e = if (m < n) m + 1 else n
            }
            out(idx).endByte = e
            i = e
          } else if (selfClose || VoidElements.contains(name)) {
            i = tagEnd // leaf element; endByte already = tagEnd
          } else {
            stack += new Open(name, attrs.toSeq, i, idx)
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
    while (stack.nonEmpty) {
      val o = stack.remove(stack.length - 1)
      out(o.nodeIdx).endByte = n
    }

    // position index: line start offsets
    val lineStarts = new ArrayBuffer[Int](16)
    lineStarts += 0
    var p = 0
    while (p < n) { if (src(p) == '\n') lineStarts += (p + 1); p += 1 }
    val ls = lineStarts.toArray

    // parentId currently holds the parent's INDEX; resolve to hashes
    // (the index chain is kept on ParseResult for lazy path building).
    val ids = new Array[Long](out.length)
    val parentIdx = new Array[Int](out.length)
    val childCount = new Array[Int](out.length)
    var q = 0
    while (q < out.length) {
      val nd = out(q)
      val key = if (nd.kind == "element") nd.name else nd.kind
      ids(q) = nodeId(nd.startByte, nd.endByte, key)
      parentIdx(q) = nd.parentId.toInt
      if (parentIdx(q) >= 0) childCount(parentIdx(q)) += 1
      q += 1
    }
    val nodes = new Array[HtmlNode](out.length)
    q = 0
    while (q < out.length) {
      val nd = out(q)
      // end point is the position of the (exclusive) end offset itself,
      // matching tree-sitter point semantics
      val endRowOff = if (nd.endByte > nd.startByte) nd.endByte else nd.startByte
      val endRow = rowOfOffset(ls, endRowOff)
      nodes(q) = HtmlNode(
        id = ids(q),
        parentId = if (nd.parentId < 0) -1L else ids(nd.parentId.toInt),
        depth = nd.depth,
        kind = nd.kind,
        name = nd.name,
        attrs = nd.attrs,
        startByte = nd.startByte,
        endByte = nd.endByte,
        startRow = rowOfOffset(ls, nd.startByte),
        startCol = nd.startByte - ls(rowOfOffset(ls, nd.startByte)),
        endRow = endRow,
        endCol = endRowOff - ls(rowOfOffset(ls, endRowOff)),
        childrenCount = childCount(q))
      q += 1
    }
    ParseResult(scala.collection.immutable.ArraySeq.unsafeWrapArray(nodes), src, parentIdx)
  }

  private def rowOfOffset(ls: Array[Int], off: Int): Int = {
    var lo = 0; var hi = ls.length - 1
    while (lo < hi) { val mid = (lo + hi + 1) >>> 1; if (ls(mid) <= off) lo = mid else hi = mid - 1 }
    lo
  }
}
