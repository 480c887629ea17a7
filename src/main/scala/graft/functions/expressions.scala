package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.GraftBridge.{anyOf, anyString}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Utf8
import graft.geo.{CellIndex, Geometry}
import graft.parse.{Extractor, HtmlParser}

/**
 * Custom Catalyst expressions (SURVEY.md §7.3). Design rules:
 *  - cell arithmetic is `doGenCode`-ed (pure static calls → stays inside
 *    whole-stage codegen; hot at 10^12 rows);
 *  - the HTML parser is eval-only (a parser can't be usefully inlined into
 *    generated Java), exposed as scalar kernels + Generators (the UDTF
 *    slot, reference: tools/search.py:205-211 query-execute fan-out);
 *  - extraction output stays BinaryType until the last moment so invalid
 *    UTF-8 survives Catalyst boundaries byte-identically (SURVEY §7.4-1);
 *  - argument types are declared (`ExpectsInputTypes`), checked at analysis.
 */

// ---------------------------------------------------------------------------
// Scalar: cell index (codegen'd — the 10^12-row hot path)
// ---------------------------------------------------------------------------

case class CellIdExpr(lat: Expression, lon: Expression, res: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = res
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType)
  override def prettyName: String = "cell_id"
  override def dataType: DataType = LongType
  // a NaN coordinate has no cell: NULL, where the kernel's cast would put
  // it in row or column 0 (±Inf clamps to the edge like any out-of-range value)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    LiteralInt.check(super.checkInputDataTypes(), "cell_id", "res", res)
  override protected def nullSafeEval(la: Any, lo: Any, r: Any): Any = {
    val lat = la.asInstanceOf[Double]; val lon = lo.asInstanceOf[Double]
    if (lat.isNaN || lon.isNaN) null else CellIndex.latLonToCell(lat, lon, r.asInstanceOf[Int])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (la, lo, r) =>
      s"""if (Double.isNaN($la) || Double.isNaN($lo)) { ${ev.isNull} = true; }
         |else { ${ev.value} = graft.geo.CellIndex.latLonToCell($la, $lo, $r); }""".stripMargin)
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(lat = f, lon = s, res = t)
}

/** Analysis-time check of a literal INT argument's value (by default a
 * cell resolution, [[CellIndex.validRes]]) once `typed`, the declared
 * types' check, has passed. A non-literal argument is the caller's contract. */
private[functions] object LiteralInt {
  def check(typed: TypeCheckResult, fn: String, what: String, arg: Expression,
      ok: Int => Boolean = CellIndex.validRes,
      want: String = s"in [0, ${CellIndex.MaxRes}]"): TypeCheckResult =
    if (typed.isFailure || !arg.foldable) typed
    else arg.eval() match {
      case v: Int if !ok(v) => TypeCheckResult.TypeCheckFailure(s"$fn $what must be $want, got $v")
      case _ => typed
    }
}

case class CellParentExpr(cell: Expression, parentRes: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = cell
  override def right: Expression = parentRes
  override def inputTypes = Seq(LongType, IntegerType)
  override def prettyName: String = "cell_parent"
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // a parentRes above the cell's own res depends on the row: a task error
  override def checkInputDataTypes(): TypeCheckResult =
    LiteralInt.check(super.checkInputDataTypes(), "cell_parent", "parentRes", parentRes)
  override protected def nullSafeEval(c: Any, r: Any): Any =
    CellIndex.parent(c.asInstanceOf[Long], r.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, r) => s"graft.geo.CellIndex.parent($c, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(cell = l, parentRes = r)
}

case class CellCenterLatExpr(cell: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = cell
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "cell_center_lat"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any = CellIndex.centerLat(c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.geo.CellIndex.centerLat($c)")
  override protected def withNewChildInternal(c: Expression) = copy(cell = c)
}

case class CellCenterLonExpr(cell: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = cell
  override def inputTypes = Seq(LongType)
  override def prettyName: String = "cell_center_lon"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any): Any = CellIndex.centerLon(c.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.geo.CellIndex.centerLon($c)")
  override protected def withNewChildInternal(c: Expression) = copy(cell = c)
}

/** Codegen'd dot product of two numeric-array columns (Array[Float] or
 * Array[Double] in any combination), double accumulation left-to-right —
 * the ANN hot loop (bits×dim per row in sign-LSH bucketing). Replaces the
 * interpreted `aggregate(zip_with(...))` HOF pair (no codegen, per-element
 * lambda dispatch; CLAUDE.md gotcha). */
case class DotProductExpr(a: Expression, b: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = a
  override def right: Expression = b
  override def inputTypes = Seq.fill(2)(anyOf(ArrayType(FloatType), ArrayType(DoubleType)))
  override def prettyName: String = "dot_product"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  private def isFloatArray(e: Expression): Boolean =
    PartialFunction.cond(e.dataType) { case ArrayType(FloatType, _) => true }
  private lazy val aF = isFloatArray(a)
  private lazy val bF = isFloatArray(b)
  override protected def nullSafeEval(av: Any, bv: Any): Any =
    graft.core.VecOps.dot(
      av.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], aF,
      bv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bF)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.core.VecOps.dot($x, $aF, $y, $bF)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(a = l, b = r)
}

/** The engine's one point-in-polygon kernel, the exact refinement of the
 * two-phase spatial join (SURVEY §2.3 J5). Same crossing rule as the
 * reference [[graft.geo.Geometry.pointInPolygon]], but it reads the
 * interleaved [x0,y0,x1,y1,…] ring and the ring's optional
 * [[graft.geo.Geometry.yBandIndex]] straight from Catalyst ArrayData: no
 * copy per candidate row. A NULL index scans every edge; an index scans
 * only the CSR edge range of the query y's band. Decision equality with
 * the reference is property-pinned in GeometrySpec and FuzzSafetySpec. */
object PipRt {
  import org.apache.spark.sql.catalyst.util.ArrayData

  /** Edges per y-band of the index [[edgeIndex]] derives from a ring
   * (settled by the `BenchPipeline pip` probe, BASELINE.md §edge-index). */
  val EdgesPerBand = 16

  def pointInRing(x: Double, y: Double, ring: ArrayData, idx: ArrayData): Boolean = {
    val n = ring.numElements() / 2
    if (n < 3) return false
    var from = 0
    var until = n
    var ids = -1 // offset of the edge-id list in idx; -1 = no index, scan edges 0 until n
    if (idx != null) {
      val yMin = idx.getDouble(0); val yMax = idx.getDouble(1)
      if (y < yMin || y > yMax) return false
      val bands = idx.getDouble(2).toInt
      val h = (yMax - yMin) / bands
      val b =
        if (h <= 0) 0
        else math.min(bands - 1, math.max(0, ((y - yMin) / h).toInt))
      from = idx.getDouble(3 + b).toInt
      until = idx.getDouble(3 + b + 1).toInt
      ids = 3 + bands + 1
    }
    var inside = false
    var e = from
    while (e < until) {
      // edge i joins vertex i and vertex i-1 (mod n)
      val i = if (ids < 0) e else idx.getDouble(ids + e).toInt
      val j = if (i == 0) n - 1 else i - 1
      val xi = ring.getDouble(2 * i); val yi = ring.getDouble(2 * i + 1)
      val xj = ring.getDouble(2 * j); val yj = ring.getDouble(2 * j + 1)
      if ((yi > y) != (yj > y)) {
        val xCross = (xj - xi) * (y - yi) / (yj - yi) + xi
        if (x < xCross) inside = !inside
      }
      e += 1
    }
    inside
  }

  /** The index a ring of v vertices carries: `polygon_y_index(ring, v div
   * E)` with E = [[EdgesPerBand]] when that makes at least two bands, NULL
   * (scan every edge) below. SpatialJoin and SpatialJoinRule attach it
   * once per polygon row, before the cover explode. */
  def edgeIndex(ring: Expression): Expression = {
    val bands = IntegralDivide(Cast(Size(ring), LongType), Literal(2L * EdgesPerBand))
    CaseWhen(Seq(GreaterThanOrEqual(bands, Literal(2L)) ->
      PolygonYIndexExpr(ring, Cast(bands, IntegerType))))
  }
}

/** Y-banded edge interval index of a ring (see
 * [[graft.geo.Geometry.yBandIndex]] for the encoding and the exactness
 * argument) — built ONCE per polygon row (cold side), consumed per
 * candidate pair by [[PointInPolygonExpr]]. */
case class PolygonYIndexExpr(ring: Expression, bands: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def left: Expression = ring
  override def right: Expression = bands
  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "polygon_y_index"
  override def checkInputDataTypes(): TypeCheckResult =
    LiteralInt.check(super.checkInputDataTypes(), "polygon_y_index", "bands", bands, _ >= 1, ">= 1")
  override protected def nullSafeEval(rv: Any, bv: Any): Any =
    new GenericArrayData(Geometry.yBandIndex(
      rv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
      bv.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (rv, bv) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.geo.Geometry.yBandIndex($rv.toDoubleArray(), $bv))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(ring = l, bands = r)
}

/** Exact PIP predicate `point_in_polygon(x, y, ring[, idx])`: one
 * codegen'd [[PipRt.pointInRing]] call per row. `idx` is the ring's
 * optional edge index; a NULL index scans every edge, so the result is
 * NULL only when x, y or the ring is. */
case class PointInPolygonExpr(
    x: Expression, y: Expression, ring: Expression,
    idx: Expression = PointInPolygonExpr.NoIndex)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def first: Expression = x
  override def second: Expression = y
  override def third: Expression = ring
  override def fourth: Expression = idx
  override def inputTypes = Seq(DoubleType, DoubleType, ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = x.nullable || y.nullable || ring.nullable
  override def prettyName: String = "point_in_polygon"
  override def eval(input: InternalRow): Any = {
    val xv = x.eval(input)
    val yv = y.eval(input)
    val rv = ring.eval(input)
    if (xv == null || yv == null || rv == null) null
    else PipRt.pointInRing(xv.asInstanceOf[Double], yv.asInstanceOf[Double],
      rv.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      idx.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(xe, ye, re, ie) = children.map(_.genCode(ctx))
    ev.copy(code = code"""
      |${xe.code}
      |${ye.code}
      |${re.code}
      |${ie.code}
      |boolean ${ev.isNull} = ${xe.isNull} || ${ye.isNull} || ${re.isNull};
      |boolean ${ev.value} = !${ev.isNull} && graft.functions.PipRt.pointInRing(
      |  ${xe.value}, ${ye.value}, ${re.value},
      |  ${ie.isNull} ? (org.apache.spark.sql.catalyst.util.ArrayData) null : ${ie.value});
      |""".stripMargin)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(x = f, y = s, ring = t, idx = q)
}

object PointInPolygonExpr {
  val NoIndex: Expression = Literal(null, ArrayType(DoubleType, containsNull = false))
}

// ---------------------------------------------------------------------------
// Scalar: extraction kernels (eval-only; parser not codegen-able)
// ---------------------------------------------------------------------------

/** Byte-identity text extraction: BINARY html → BINARY extracted text
 * (reference kernel: utils/tree_sitter_helpers.py:239-261; the per-url
 * invariant of BASELINE.json input_hint). */
case class ExtractedTextExpr(html: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = html
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "extract_text_bytes"
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(h: Any): Any =
    Extractor.extractTextBytes(h.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"graft.parse.Extractor.extractTextBytes($h)")
  override protected def withNewChildInternal(c: Expression) = copy(html = c)
}

/** UTF-8 decode with CPython errors="replace" parity (SURVEY §2.11). */
case class Utf8ReplaceDecodeExpr(bin: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def child: Expression = bin
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "utf8_decode_replace"
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(b: Any): Any =
    UTF8String.fromString(Utf8.decodeReplace(b.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.Utf8.decodeReplace($b))")
  override protected def withNewChildInternal(c: Expression) = copy(bin = c)
}

// ---------------------------------------------------------------------------
// Scalar: md5 prefix (codegen'd — the portable hash of every wave, sketch
// and sampler)
// ---------------------------------------------------------------------------

/** Top `bits` of md5(bytes) as a non-negative long — the value of
 * `conv(substring(md5(v), 1, bits / 4), 16, 10)` without Spark's per-row
 * `MessageDigest.getInstance`, hex string, substring and
 * NumberConverter. One digest and output buffer per thread. */
object Md5PrefixRt {
  private final class State {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  def ofBytes(b: Array[Byte], bits: Int): Long = top(b, 0, b.length, bits)

  /** Hashes the string's UTF-8 bytes in place when they sit in a byte array. */
  def ofUtf8(s: UTF8String, bits: Int): Long = s.getBaseObject match {
    case a: Array[Byte] =>
      top(a, (s.getBaseOffset - org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET).toInt,
        s.numBytes, bits)
    case _ => ofBytes(s.getBytes, bits)
  }

  private def top(b: Array[Byte], off: Int, len: Int, bits: Int): Long = {
    val st = state.get()
    st.md.update(b, off, len)
    st.md.digest(st.out, 0, 16)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (st.out(i) & 0xffL); i += 1 }
    v >>> (64 - bits)
  }
}

/** md5 prefix of a STRING (its UTF-8 bytes, as Spark's `md5` hashes it)
 * or BINARY column; any other input type fails analysis — a numeric
 * column must be cast to string by the caller, never hashed as its
 * 8-byte binary form. */
case class Md5PrefixExpr(child: Expression, bits: Int) extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "md5_prefix"
  override def inputTypes = Seq(anyOf(anyString, BinaryType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (bits < 1 || bits > 63)
      TypeCheckResult.TypeCheckFailure(s"md5_prefix bits must be in [1, 63], got $bits")
    else super.checkInputDataTypes()
  private def kernel: String = if (child.dataType.isInstanceOf[StringType]) "ofUtf8" else "ofBytes"
  override protected def nullSafeEval(v: Any): Any = v match {
    case s: UTF8String => Md5PrefixRt.ofUtf8(s, bits)
    case b: Array[Byte] => Md5PrefixRt.ofBytes(b, bits)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.Md5PrefixRt.$kernel($v, $bits)")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

// ---------------------------------------------------------------------------
// Generators (the UDTF slot — one html row in, many rows out)
// ---------------------------------------------------------------------------

/** Flattened node table of one document (reference: get_ast →
 * node_to_dict_cursor, tools/ast_operations.py:17-66 + models/
 * ast_cursor.py:12-183 — relational encoding per SURVEY §2.9 T1). The
 * node id (`HtmlParser.nodeId` of the node's byte range and name or
 * kind), parent id, children count and root→node path (the reference's
 * extract_node_path, models/ast.py:112-155) are derived here, the one
 * consumer that emits them; parents precede children in the parser's
 * table, so one forward pass builds ids and paths. */
case class ParseNodeTableExpr(html: Expression)
    extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  override def child: Expression = html
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "parse_html_nodes"
  override def elementSchema: StructType = ParseNodeTableExpr.schema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val h = html.eval(input)
    if (h == null) return Nil
    val res = HtmlParser.parse(h.asInstanceOf[Array[Byte]])
    val t = res.nodes
    val ids = new Array[Long](t.length)
    val children = new Array[Int](t.length)
    val paths = new Array[Array[Any]](t.length)
    for (i <- 0 until t.length) {
      val key = if (t.kind(i) == HtmlParser.Element) t.name(i) else HtmlParser.KindNames(t.kind(i))
      ids(i) = HtmlParser.nodeId(t.startByte(i), t.endByte(i), key)
      val p = t.parent(i)
      val k = UTF8String.fromString(key)
      paths(i) = if (p < 0) Array[Any](k) else { children(p) += 1; paths(p) :+ k }
    }
    (0 until t.length).map { i =>
      val p = t.parent(i)
      val keys = new GenericArrayData(t.attrs(i).map(a => UTF8String.fromString(a._1)).toArray[Any])
      val vals = new GenericArrayData(t.attrs(i).map(a => UTF8String.fromString(a._2)).toArray[Any])
      val s = t.startByte(i); val e = t.endByte(i)
      InternalRow(ids(i), if (p < 0) -1L else ids(p), t.depth(i),
        UTF8String.fromString(HtmlParser.KindNames(t.kind(i))), UTF8String.fromString(t.name(i)),
        new ArrayBasedMapData(keys, vals),
        s, e, res.row(s), res.col(s), res.row(e), res.col(e),
        new GenericArrayData(paths(i)), children(i))
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(html = c)
}
object ParseNodeTableExpr {
  val schema: StructType = StructType(Seq(
    StructField("node_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("attrs", MapType(StringType, StringType), nullable = false),
    StructField("start_byte", IntegerType, nullable = false),
    StructField("end_byte", IntegerType, nullable = false),
    StructField("start_row", IntegerType, nullable = false),
    StructField("start_col", IntegerType, nullable = false),
    StructField("end_row", IntegerType, nullable = false),
    StructField("end_col", IntegerType, nullable = false),
    StructField("path", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("children_count", IntegerType, nullable = false)))
}

/** Capture rows for one or more named extraction specs (reference row
 * shape: tools/search.py:233-249; spec ≈ query template, SURVEY §2.8
 * Q1-Q3). `spec` may be a comma-separated list ("headings,links,…"): the
 * document is parsed ONCE and every listed template runs over the same
 * parse — the multi-template analogue of the reference's get_symbols
 * without one parse per template (parse dominates the pipeline cost).
 * The spec list is compiled/validated ONCE at plan time (driver),
 * mirroring the reference's compile-before-loop discipline (SURVEY §4). */
case class ExtractCapturesExpr(html: Expression, spec: Expression)
    extends BinaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  override def left: Expression = html
  override def right: Expression = spec
  override def inputTypes = Seq(BinaryType, anyString)
  override def prettyName: String = "extract_captures"
  // the spec list is a constant (checkInputDataTypes), read once per task
  private lazy val specNames: Seq[String] =
    ExtractCapturesExpr.specList(spec.eval(InternalRow.empty))
  override def checkInputDataTypes(): TypeCheckResult = {
    def known = Extractor.SpecNames.mkString(", ")
    val typed = super.checkInputDataTypes()
    if (typed.isFailure) typed
    else if (!spec.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"extract_captures spec must be a constant STRING naming specs from: $known")
    else {
      val names = ExtractCapturesExpr.specList(spec.eval(InternalRow.empty))
      if (names.isEmpty) TypeCheckResult.TypeCheckFailure(
        s"extract_captures spec list names no spec (known: $known)")
      else names.find(n => !Extractor.SpecNames.contains(n)) match {
        case Some(n) => TypeCheckResult.TypeCheckFailure(
          s"unknown extraction spec '$n' (known: $known)")
        case None => TypeCheckResult.TypeCheckSuccess
      }
    }
  }
  override def elementSchema: StructType = ExtractCapturesExpr.schema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val h = html.eval(input)
    if (h == null) return Nil
    val res = HtmlParser.parse(h.asInstanceOf[Array[Byte]])
    Extractor.capturesMulti(res, specNames).map { c =>
      InternalRow(UTF8String.fromString(c.capture), UTF8String.fromString(c.text),
        c.startByte, c.endByte, c.startRow, c.startCol, c.endRow, c.endCol)
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(html = l, spec = r)
}
object ExtractCapturesExpr {
  /** The names of a comma-separated spec list; none for NULL. */
  private def specList(v: Any): Seq[String] =
    if (v == null) Nil else v.toString.split(',').toSeq.map(_.trim).filter(_.nonEmpty)

  val schema: StructType = StructType(Seq(
    StructField("capture", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("start_byte", IntegerType, nullable = false),
    StructField("end_byte", IntegerType, nullable = false),
    StructField("start_row", IntegerType, nullable = false),
    StructField("start_col", IntegerType, nullable = false),
    StructField("end_row", IntegerType, nullable = false),
    StructField("end_col", IntegerType, nullable = false)))
}

/** Geo entities of one page (SURVEY §7.2 — feeds cell encode + join). */
case class ExtractGeoEntitiesExpr(html: Expression)
    extends UnaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  override def child: Expression = html
  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = "extract_geo"
  override def elementSchema: StructType = ExtractGeoEntitiesExpr.schema
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val h = html.eval(input)
    if (h == null) return Nil
    Extractor.geoEntities(h.asInstanceOf[Array[Byte]]).map { e =>
      InternalRow(e.entityIdx, UTF8String.fromString(e.source), e.lat, e.lon)
    }
  }
  override protected def withNewChildInternal(c: Expression) = copy(html = c)
}
object ExtractGeoEntitiesExpr {
  val schema: StructType = StructType(Seq(
    StructField("entity_idx", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false)))
}

/** Polygon → covering cells at `res` (the build side of the two-phase
 * spatial join, SURVEY §2.3 J5). Superset-guaranteed cover (tested in
 * GeometrySpec); ring = ArrayType(DoubleType) interleaved [x,y,…]. */
case class CellCoverExpr(ring: Expression, res: Expression)
    extends BinaryExpression with Generator with CodegenFallback with ExpectsInputTypes {
  override def left: Expression = ring
  override def right: Expression = res
  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
  override def prettyName: String = "cell_cover"
  override def checkInputDataTypes(): TypeCheckResult =
    LiteralInt.check(super.checkInputDataTypes(), "cell_cover", "res", res)
  override def elementSchema: StructType =
    StructType(Seq(StructField("cover_cell", LongType, nullable = false)))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val r = ring.eval(input)
    val rs = res.eval(input)
    if (r == null || rs == null) return Nil
    val arr = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
    Geometry.cellCover(arr, rs.asInstanceOf[Int]).map(InternalRow(_))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(ring = l, res = r)
}

/** Lower bound on squared degree-distance from (lat, lon) to anything
 * OUTSIDE the Chebyshev disk of radius k around its cell — the kNN
 * ring-expansion termination criterion (SURVEY §7.4-4). Codegen'd. */
case class CellDiskBoundExpr(lat: Expression, lon: Expression, res: Expression, k: Expression)
    extends QuaternaryExpression with ExpectsInputTypes {
  override def first: Expression = lat
  override def second: Expression = lon
  override def third: Expression = res
  override def fourth: Expression = k
  override def inputTypes = Seq(DoubleType, DoubleType, IntegerType, IntegerType)
  override def prettyName: String = "cell_disk_bound"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(la: Any, lo: Any, r: Any, kk: Any): Any =
    CellIndex.minDistSqBeyondDisk(la.asInstanceOf[Double], lo.asInstanceOf[Double],
      r.asInstanceOf[Int], kk.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (la, lo, r, kk) =>
      s"graft.geo.CellIndex.minDistSqBeyondDisk($la, $lo, $r, $kk)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression) =
    copy(lat = f, lon = s, res = t, k = q)
}

/** All cells with Chebyshev distance in [kFrom, kTo] of `cell`, as an
 * ARRAY column exploded by the BUILT-IN `explode` (see
 * [[graft.functions.cell_disk_band]]) — deliberately a codegen'd scalar
 * rather than a custom Generator: a custom Generator is CodegenFallback,
 * which severs whole-stage codegen for the entire generate→join→aggregate
 * chain around it, leaving every ring-cell and join-candidate row an
 * interpreted-path heap allocation. Measured on the kNN scaling bench at
 * 16 cores that allocation rate (~9 GB/s) made GC the scaling ceiling;
 * built-in explode keeps the chain in ONE WholeStageCodegen span and this
 * expression allocates one long[] per input row. */
case class CellDiskBandExpr(cell: Expression, kFrom: Expression, kTo: Expression)
    extends TernaryExpression with ExpectsInputTypes {
  override def first: Expression = cell
  override def second: Expression = kFrom
  override def third: Expression = kTo
  override def inputTypes = Seq(LongType, IntegerType, IntegerType)
  override def prettyName: String = "cell_ring"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override protected def nullSafeEval(c: Any, f: Any, t: Any): Any =
    new GenericArrayData(CellIndex.diskBand(
      c.asInstanceOf[Long], f.asInstanceOf[Int], t.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, f, t) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.geo.CellIndex.diskBand($c, $f, $t))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression) =
    copy(cell = f, kFrom = s, kTo = t)
}
