package graft.parse

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, map_keys, map_values}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.operators.FuzzSafetySpec
import graft.sources.Fixtures

/**
 * Pins every row the page-side generators emit over three inputs: 2,000
 * `Fixtures.pageHtml` pages, the 30-case byte-identity corpus and the
 * 2,000 byte soups of [[FuzzSafetySpec]]. Each (generator, input) pair
 * is reduced to its row count and an MD5 over the rows in output order,
 * every column included (the attrs map as its key and value arrays, so
 * duplicate attributes count). The digests were taken from the parser
 * before its node table was flattened; any change to an id, a point, a
 * path or a capture shows here.
 */
class ParseOutputDigestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def resource(name: String): Array[Byte] =
    getClass.getResourceAsStream(s"/byteid/html/$name").readAllBytes()

  private lazy val inputs: Seq[(String, Seq[Array[Byte]])] = Seq(
    "pages" -> (0 until 2000).map(i => Fixtures.pageHtml(i.toLong)),
    "byteid" -> new String(resource("MANIFEST"), UTF_8).linesIterator
      .filter(_.nonEmpty).map(n => resource(s"$n.html")).toSeq,
    "soups" -> (0 until 2000).map(FuzzSafetySpec.htmlSoup))

  /** Canonical bytes of one value: doubles by their bits, arrays element
   * by element, every value length-prefixed. */
  private def put(md: java.security.MessageDigest, v: Any): Unit = {
    def bytes(b: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array()); md.update(b)
    }
    v match {
      case null => bytes(Array[Byte](0))
      case d: Double => bytes(java.nio.ByteBuffer.allocate(8)
        .putLong(java.lang.Double.doubleToRawLongBits(d)).array())
      case b: Array[Byte] => bytes(b)
      case s: scala.collection.Seq[_] =>
        bytes(s"seq${s.length}".getBytes(UTF_8)); s.foreach(put(md, _))
      case other => bytes(other.toString.getBytes(UTF_8))
    }
  }

  private def digest(gen: Column, project: Seq[Column]): Map[String, (Long, String)] = {
    import spark.implicits._
    inputs.map { case (name, docs) =>
      val rows = docs.zipWithIndex.map { case (h, i) => (i, h) }.toDF("doc", "html")
        .select(col("doc"), gen).select(col("doc") +: project: _*).collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach((r: Row) => r.toSeq.foreach(put(md, _)))
      name -> ((rows.length.toLong, md.digest().map("%02x".format(_)).mkString))
    }.toMap
  }

  test("parse_html_nodes rows (all 14 columns) match the pinned digests") {
    val cols = Seq("node_id", "parent_id", "depth", "kind", "name", "attrs",
      "start_byte", "end_byte", "start_row", "start_col", "end_row", "end_col",
      "path", "children_count")
    val project = cols.map {
      case "attrs" => Seq(map_keys(col("attrs")), map_values(col("attrs")))
      case c => Seq(col(c))
    }.flatten
    val got = digest(parse_html_nodes(col("html")).as(cols), project)
    assert(got == Map(
      "pages" -> ((56751L, "1c047475978d42d33cfd4a2f5384bac9")),
      "byteid" -> ((171L, "5b67922781de6642612ee63347b52f5c")),
      "soups" -> ((7475L, "7e03dc6c905b4d07348d1863ff995cd9"))))
  }

  test("extract_captures rows of all 8 specs match the pinned digests") {
    val cols = Seq("capture", "text", "start_byte", "end_byte",
      "start_row", "start_col", "end_row", "end_col")
    val got = digest(extract_captures(col("html"),
      "links,images,headings,title,meta,geo_meta,geo_uri,microdata").as(cols),
      cols.map(col))
    assert(got == Map(
      "pages" -> ((17820L, "1bc13ca503b20219c2c98359bc6adfec")),
      "byteid" -> ((8L, "b25a3c8e1fd74754f572d62409b67bea")),
      "soups" -> ((358L, "39c6cd16cca6710d0f377212d6847594"))))
  }

  test("extract_geo rows match the pinned digests") {
    val cols = Seq("entity_idx", "source", "lat", "lon")
    val got = digest(extract_geo(col("html")).as(cols), cols.map(col))
    assert(got == Map(
      "pages" -> ((5940L, "c30c927ef868cd306db50c700db56014")),
      "byteid" -> ((2L, "460baaa171de10204e8ffbcdb5d3700e")),
      "soups" -> ((0L, "d41d8cd98f00b204e9800998ecf8427e"))))
  }

  test("extract_text_bytes rows match the pinned digests") {
    val got = digest(extract_text_bytes(col("html")).as("t"), Seq(col("t")))
    assert(got == Map(
      "pages" -> ((2000L, "ae6e71dff91ce5aa782c37e6638e4990")),
      "byteid" -> ((30L, "5380c497fe8bd2862516a09e288fdcec")),
      "soups" -> ((2000L, "ff11b506e29633848d6726d9ce836d6b"))))
  }
}
