package graft.parse

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ParseNodeTableExpr
import HtmlParser.Text

class HtmlParserSpec extends AnyFunSuite {
  private def parse(s: String) = HtmlParser.parse(s.getBytes("UTF-8"))

  /** Indices of the nodes that satisfy `p`, in document order. */
  private def where(r: HtmlParser.ParseResult)(p: Int => Boolean): IndexedSeq[Int] =
    (0 until r.nodes.length).filter(p)
  private def elements(r: HtmlParser.ParseResult, tag: String) =
    where(r)(i => r.nodes.kind(i) == HtmlParser.Element && r.nodes.name(i) == tag)
  private def texts(r: HtmlParser.ParseResult) = where(r)(r.nodes.kind(_) == Text).map(r.text)

  test("simple document structure with byte offsets") {
    val html = "<html><body><p>hi</p></body></html>"
    val r = parse(html)
    val t = r.nodes
    val kinds = where(r)(_ => true).map(i => (HtmlParser.KindNames(t.kind(i)), t.name(i)))
    assert(kinds.contains(("document", "")))
    assert(kinds.contains(("element", "html")))
    assert(kinds.contains(("element", "p")))
    val p = elements(r, "p").head
    assert(html.substring(t.startByte(p), t.endByte(p)) == "<p>hi</p>")
    val txt = where(r)(t.kind(_) == Text).head
    assert(html.substring(t.startByte(txt), t.endByte(txt)) == "hi")
    assert(t.parent(txt) == p)
    assert(t.depth(txt) == t.depth(p) + 1)
  }

  test("attributes: quoted, unquoted, valueless, entities in values") {
    val r = parse("""<a href="x.html" id=main disabled title='t &amp; u'>z</a>""")
    val a = elements(r, "a").head
    assert(r.nodes.attr(a, "href").contains("x.html"))
    assert(r.nodes.attr(a, "id").contains("main"))
    assert(r.nodes.attr(a, "disabled").contains(""))
    assert(r.nodes.attr(a, "title").contains("t &amp; u")) // raw; decode is the extractor's job
  }

  test("void and self-closing elements do not swallow siblings") {
    val r = parse("<p>a<br>b<img src=i.png/>c</p>")
    assert(texts(r) == Seq("a", "b", "c"))
    assert(elements(r, "br").length == 1)
    assert(elements(r, "img").length == 1)
  }

  test("script/style content is raw text, not parsed") {
    val html = "<body><script>if (a<b) { x('<p>') }</script><p>real</p></body>"
    val r = parse(html)
    assert(elements(r, "p").length == 1)
    val sc = elements(r, "script").head
    val raw = where(r)(i => r.nodes.kind(i) == Text && r.nodes.parent(i) == sc).head
    assert(r.text(raw) == "if (a<b) { x('<p>') }")
    assert(r.nodes.isRawText(raw))
  }

  test("comments and doctype") {
    val r = parse("<!doctype html><!-- a <p> inside --><p>x</p>")
    assert(where(r)(r.nodes.kind(_) == HtmlParser.Doctype).length == 1)
    assert(where(r)(r.nodes.kind(_) == HtmlParser.Comment).length == 1)
    assert(elements(r, "p").length == 1)
  }

  test("mismatched close tags implicitly close children; strays ignored") {
    val r = parse("<div><p>a</div>b</p>")
    val div = elements(r, "div").head
    val p = elements(r, "p").head
    assert(r.nodes.endByte(p) <= r.nodes.endByte(div))
    assert(texts(r) == Seq("a", "b"))
  }

  test("unclosed elements run to EOF") {
    val html = "<div><p>tail"
    val r = parse(html)
    assert(r.nodes.endByte(elements(r, "div").head) == html.length)
    assert(r.nodes.endByte(elements(r, "p").head) == html.length)
  }

  test("stack-safe on 50k-deep nesting") {
    val depth = 50000
    val html = "<div>" * depth + "x" + "</div>" * depth
    val r = HtmlParser.parse(html.getBytes("UTF-8"))
    assert(elements(r, "div").length == depth)
    val t = where(r)(r.nodes.kind(_) == Text).head
    assert(r.nodes.depth(t) == depth + 1)
  }

  test("rows/cols are tree-sitter points (row = newlines, col = bytes)") {
    val html = "<p>a</p>\n<p>bé</p>"
    val r = parse(html)
    val Seq(p0, p1) = elements(r, "p").map(i => (r.nodes.startByte(i), r.nodes.endByte(i)))
    assert(r.row(p0._1) == 0 && r.col(p0._1) == 0)
    assert(r.row(p1._1) == 1 && r.col(p1._1) == 0)
    assert(r.row(p1._2) == 1 && r.col(p1._2) == 10) // 'bé' is 3 bytes
  }

  test("node ids deterministic and distinct per (range, type)") {
    // ids are derived where they are emitted: the node_id column
    def ids(html: String): Seq[Long] =
      ParseNodeTableExpr(Literal(html.getBytes("UTF-8"))).eval(InternalRow.empty)
        .iterator.map(_.getLong(0)).toSeq
    val id1 = ids("<p>a</p><p>b</p>")
    assert(id1 == ids("<p>a</p><p>b</p>"))
    assert(id1.distinct.length == parse("<p>a</p><p>b</p>").nodes.length)
  }

  test("lone '<' and '</3' are literal text") {
    val r = parse("a < b </3 c")
    assert(texts(r).mkString == "a < b </3 c")
  }
}
