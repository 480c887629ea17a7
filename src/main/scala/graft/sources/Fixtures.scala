package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * Deterministic synthetic tables per FIXTURES.md (F1 pages, F2 polygons).
 * Pure functions of (i, seed) — no RNG state, no time, no external data —
 * so tests and benches can recompute any row independently, mirroring the
 * reference's known-construct fixture corpora
 * (reference: tests/test_symbol_extraction.py:24-120).
 *
 * Skew is designed in: `SkewFraction` of pages draw their first geo entity
 * from one capital-city cluster (FIXTURES.md F1) to exercise AQE's skew
 * handling (SURVEY §7.4-2).
 */
object Fixtures {
  val Seed = 42L
  val SkewFraction = 0.30
  val SkewLat = 52.52
  val SkewLon = 13.405
  val Langs: Vector[String] = Vector("en", "de", "fr", "ja")
  val Categories: Vector[String] = Vector("news", "blog", "shop", "wiki", "docs")

  /** splitmix64 — the standard public-domain 64-bit mixer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def unit(i: Long, k: Long): Double = { // deterministic [0,1)
    val h = mix(mix(Seed + i) ^ k)
    (h >>> 11).toDouble / (1L << 53).toDouble
  }

  final case class Page(url: String, warc_ts: Timestamp, html: Array[Byte],
      text: String, lang: String)

  final case class GeoPoint(lat: Double, lon: Double)

  /** The geo entities page i carries (1-3, deterministic). */
  def pageEntities(i: Long): Seq[GeoPoint] = {
    val n = 1 + (mix(Seed + i) & 0x7fffffffL).toInt % 3
    (0 until n).map { e =>
      if (e == 0 && unit(i, 101) < SkewFraction) {
        // capital-city cluster ± small jitter
        GeoPoint(SkewLat + (unit(i, 102) - 0.5) * 0.02,
          SkewLon + (unit(i, 103) - 0.5) * 0.02)
      } else {
        GeoPoint(unit(i, 200 + e) * 170.0 - 85.0, unit(i, 300 + e) * 360.0 - 180.0)
      }
    }
  }

  private def fmt(d: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, d)

  /** Deterministic html per FIXTURES.md F1 template, with UTF-8 multibyte,
   * an invalid-byte island, entities, and a nested-div tower. */
  def pageHtml(i: Long): Array[Byte] = {
    val es = pageEntities(i)
    val sb = new StringBuilder(512)
    sb ++= s"<!doctype html><html><head>\n<title>Page $i</title>\n"
    sb ++= s"""<meta name="geo.position" content="${fmt(es.head.lat)};${fmt(es.head.lon)}">\n"""
    sb ++= s"""<meta name="ICBM" content="${fmt(es.head.lat)}, ${fmt(es.head.lon)}">\n"""
    sb ++= "</head><body>\n"
    sb ++= s"<h1>Entity $i</h1>\n"
    sb ++= s"<p>seeded filler é中文 &amp; entité ${mix(i) & 0xffff}</p>\n"
    es.drop(1).zipWithIndex.foreach { case (p, j) =>
      sb ++= s"""<a href="geo:${fmt(p.lat)},${fmt(p.lon)}">poi-$i-$j</a>\n"""
    }
    val depth = 1 + (mix(Seed ^ i) & 0x3L).toInt
    sb ++= "<div>" * depth
    sb ++= s"core-$i"
    sb ++= "</div>" * depth
    sb ++= "\n</body></html>"
    val head = sb.toString.getBytes("UTF-8")
    // invalid-byte island in a trailing comment (exercises replace-decode
    // without perturbing text extraction)
    val tail = "<!--".getBytes("UTF-8") ++ Array[Byte](0xff.toByte, 0xfe.toByte) ++ "-->".getBytes("UTF-8")
    head ++ tail
  }

  def page(i: Long, nSites: Int = 100): Page = {
    val html = pageHtml(i)
    Page(
      url = s"https://site${i % nSites}.example/${Categories((i % Categories.length).toInt)}/$i.html",
      warc_ts = new Timestamp(1767225600000L + i * 137000L), // 2026-01-01 + i*137 s
      html = html,
      text = graft.parse.Extractor.extractText(html),
      lang = Langs((i % Langs.length).toInt))
  }

  /** The pages table (F1): deterministic Dataset of N pages. */
  def pages(spark: SparkSession, n: Long, partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(i => page(i))
  }

  final case class Polygon(polygon_id: Long, ring: Array[Double], name: String)

  /** F2: P diamond polygons on a grid + one over the skew cluster. Diamond
   * (not axis-box) rings exercise non-axis-aligned PIP edges while keeping
   * an exact algebraic oracle (|dx|/w + |dy|/h < 1). */
  def polygons(p: Int): Seq[Polygon] = {
    val side = math.max(1, math.ceil(math.sqrt(p.toDouble)).toInt)
    (0L until p.toLong).map { id =>
      if (id == 0) {
        // the skew polygon: contains the capital cluster
        diamond(id, SkewLon, SkewLat, 0.5, 0.4)
      } else {
        val gx = (id % side).toDouble; val gy = (id / side).toDouble
        val cx = -170.0 + (gx + 0.5) * 340.0 / side
        val cy = -80.0 + (gy + 0.5) * 160.0 / side
        val w = 2.0 + (mix(Seed ^ (id * 7)) & 0xff).toDouble / 64.0
        val h = 1.5 + (mix(Seed ^ (id * 13)) & 0xff).toDouble / 96.0
        diamond(id, cx, cy, w, h)
      }
    }
  }

  private def diamond(id: Long, cx: Double, cy: Double, w: Double, h: Double) =
    Polygon(id, Array(cx + w, cy, cx, cy + h, cx - w, cy, cx, cy - h), s"poly-$id")

  def polygonsDf(spark: SparkSession, p: Int): DataFrame = {
    import spark.implicits._
    polygons(p).toDF()
  }

  /** Many-edge "coastline" ring: `vertices` points on a wavy circle
   * r(θ) = r·(1 + 0.35·sin 9θ + 0.15·sin 23θ) around (cx, cy) — the
   * E ≫ bands regime the y-banded edge index exists for (real borders
   * are hundreds-to-thousands of edges; the default bench diamonds are
   * 4). Deterministic, counter-clockwise, simple (radial monotone per
   * angle step keeps edges non-crossing). */
  def coastRing(cx: Double, cy: Double, rBase: Double, vertices: Int): Array[Double] = {
    val out = new Array[Double](vertices * 2)
    var i = 0
    while (i < vertices) {
      val th = 2.0 * math.Pi * i / vertices
      val r = rBase * (1.0 + 0.35 * math.sin(9 * th) + 0.15 * math.sin(23 * th))
      out(2 * i) = cx + r * math.cos(th)
      out(2 * i + 1) = cy + r * math.sin(th)
      i += 1
    }
    out
  }

  /** Coastline polygon layer on the [[polygons]] grid layout. */
  def coastPolygons(p: Int, vertices: Int = 256): Seq[Polygon] = {
    val side = math.max(1, math.ceil(math.sqrt(p.toDouble)).toInt)
    (0L until p.toLong).map { id =>
      val gx = (id % side).toDouble; val gy = (id / side).toDouble
      val cx = -170.0 + (gx + 0.5) * 340.0 / side
      val cy = -80.0 + (gy + 0.5) * 160.0 / side
      val r = 1.5 + (mix(Seed ^ (id * 31)) & 0xff).toDouble / 128.0
      Polygon(id, coastRing(cx, cy, r, vertices), s"coast-$id")
    }
  }

  def coastPolygonsDf(spark: SparkSession, p: Int, vertices: Int = 256): DataFrame = {
    import spark.implicits._
    coastPolygons(p, vertices).toDF()
  }
}
