package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.GraftBridge.{column, expression, wrongNumArgs}
import org.apache.spark.sql.catalyst.expressions.{Explode, Expression}
import org.apache.spark.sql.functions.lit

/**
 * Column-level API over the custom Catalyst expressions — the engine's
 * scalar/generator function surface (the Spark analogue of the reference's
 * MCP tool surface, SURVEY §2.13).
 */
package object functions {

  /** Encode (lat, lon) into a 64-bit hierarchical cell id at `res`. */
  def cell_id(lat: Column, lon: Column, res: Int): Column =
    column(CellIdExpr(expression(lat.cast("double")), expression(lon.cast("double")),
      expression(lit(res))))

  def cell_parent(cell: Column, parentRes: Int): Column =
    column(CellParentExpr(expression(cell), expression(lit(parentRes))))

  def cell_center_lat(cell: Column): Column = column(CellCenterLatExpr(expression(cell)))
  def cell_center_lon(cell: Column): Column = column(CellCenterLonExpr(expression(cell)))

  /** Codegen'd dot product over array<float>/array<double> columns. */
  def dot_product(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))

  /** Exact ray-casting PIP; ring = array<double> interleaved [x,y,…]. */
  def point_in_polygon(x: Column, y: Column, ring: Column): Column =
    column(PointInPolygonExpr(expression(x), expression(y), expression(ring)))

  /** Y-banded edge interval index of a ring (build once per polygon). */
  def polygon_y_index(ring: Column, bands: Int): Column =
    column(PolygonYIndexExpr(expression(ring), expression(lit(bands))))

  /** Exact PIP scanning only the query y's band of `idx` (a
   * [[polygon_y_index]] of the ring; NULL scans every edge). */
  def point_in_polygon_indexed(x: Column, y: Column, ring: Column, idx: Column): Column =
    column(PointInPolygonExpr(
      expression(x), expression(y), expression(ring), expression(idx)))

  /** The edge index a ring carries ([[PipRt.edgeIndex]]): NULL for rings
   * too small to split into two bands. */
  private[graft] def edge_index(ring: Column): Column =
    column(PipRt.edgeIndex(expression(ring)))

  /** Top `bits` (1-63) of md5 over a STRING column's UTF-8 bytes or a
   * BINARY column, as a non-negative long: equal to
   * `conv(substring(md5(v), 1, bits / 4), 16, 10).cast("long")` for
   * bits = 4·n, NULL on NULL. Other input types fail analysis. */
  def md5_prefix(value: Column, bits: Int): Column =
    column(Md5PrefixExpr(expression(value), bits))

  /** BINARY html → BINARY extracted text (byte-identity kernel). */
  def extract_text_bytes(html: Column): Column =
    column(ExtractedTextExpr(expression(html)))

  /** BINARY html → STRING extracted text (replace-decoded). */
  def extract_text(html: Column): Column =
    column(Utf8ReplaceDecodeExpr(ExtractedTextExpr(expression(html))))

  /** BINARY → STRING with CPython errors="replace" semantics. */
  def utf8_decode_replace(bin: Column): Column =
    column(Utf8ReplaceDecodeExpr(expression(bin)))

  /** Generator: flattened HTML node table (use inside select with explode
   * semantics: df.select($"url", parse_html_nodes($"html"))). */
  def parse_html_nodes(html: Column): Column =
    column(ParseNodeTableExpr(expression(html)))

  /** Generator: capture rows for a named extraction spec. */
  def extract_captures(html: Column, spec: String): Column =
    column(ExtractCapturesExpr(expression(html), expression(lit(spec))))

  /** Generator: (entity_idx, source, lat, lon) geo entities per page. */
  def extract_geo(html: Column): Column =
    column(ExtractGeoEntitiesExpr(expression(html)))

  /** Chebyshev ring cells at radius k, exploded one per row as
   * `ring_cell` (the disk band [k, k], see [[cell_disk_band]]). */
  def cell_ring(cell: Column, k: Column): Column =
    cell_disk_band(cell, k, k).as("ring_cell")

  /** kNN ring-expansion termination bound (squared degrees). */
  def cell_disk_bound(lat: Column, lon: Column, res: Int, k: Column): Column =
    column(CellDiskBoundExpr(expression(lat), expression(lon),
      expression(lit(res)), expression(k)))

  /** Cells with Chebyshev distance in [kFrom, kTo], exploded one per row.
   * Built-in explode over a codegen'd array scalar — NOT a custom
   * Generator — so the surrounding pipeline stays in whole-stage codegen
   * (see [[CellDiskBandExpr]]). */
  def cell_disk_band(cell: Column, kFrom: Column, kTo: Column): Column =
    org.apache.spark.sql.functions.explode(
      column(CellDiskBandExpr(expression(cell), expression(kFrom), expression(kTo))))

  /** Generator: covering cells of a polygon ring at `res`. */
  def cell_cover(ring: Column, res: Int): Column =
    column(CellCoverExpr(expression(ring), expression(lit(res))))

  /** SQL name → (argument count, expression builder), the single source
   * for both [[registerAll]] (live session) and
   * `GraftExtensions.injectFunction` (builder-time registration for
   * spark-submit deployments). A call with another argument count fails
   * analysis with Spark's wrong-number-of-arguments error. */
  private[graft] val sqlFunctionBuilders: Seq[(String, Int, Seq[Expression] => Expression)] =
    Seq[(String, Int, Seq[Expression] => Expression)](
      ("cell_id", 3, es => CellIdExpr(es(0), es(1), es(2))),
      ("cell_parent", 2, es => CellParentExpr(es(0), es(1))),
      ("cell_center_lat", 1, es => CellCenterLatExpr(es(0))),
      ("cell_center_lon", 1, es => CellCenterLonExpr(es(0))),
      ("point_in_polygon", 3, es => PointInPolygonExpr(es(0), es(1), es(2))),
      ("polygon_y_index", 2, es => PolygonYIndexExpr(es(0), es(1))),
      ("point_in_polygon_indexed", 4, es => PointInPolygonExpr(es(0), es(1), es(2), es(3))),
      ("extract_text_bytes", 1, es => ExtractedTextExpr(es(0))),
      ("extract_text", 1, es => Utf8ReplaceDecodeExpr(ExtractedTextExpr(es(0)))),
      ("utf8_decode_replace", 1, es => Utf8ReplaceDecodeExpr(es(0))),
      ("parse_html_nodes", 1, es => ParseNodeTableExpr(es(0))),
      ("extract_captures", 2, es => ExtractCapturesExpr(es(0), es(1))),
      ("extract_geo", 1, es => ExtractGeoEntitiesExpr(es(0))),
      ("cell_ring", 2, es => Explode(CellDiskBandExpr(es(0), es(1), es(1)))),
      ("cell_cover", 2, es => CellCoverExpr(es(0), es(1))),
      ("dot_product", 2, es => DotProductExpr(es(0), es(1)))
    ).map { case (name, arity, build) => (name, arity, (es: Seq[Expression]) =>
      if (es.length == arity) build(es) else throw wrongNumArgs(name, arity, es.length))
    }

  /** Register SQL names so spark.sql can call the engine functions. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctionBuilders.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
