package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.sources.Fixtures.mix

class WarcSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("WARC round-trip: byte-identical html through write → segment files → read") {
    val dir = tempDir("graft_warc")
    val pages = Fixtures.pages(spark, 300, partitions = 4).toDF()
      .select("url", "warc_ts", "html")
    Warc.writePages(pages, dir)
    // one segment per non-empty partition, parallel-readable
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".warc")) > 1)
    val back = Warc.readPages(spark, dir)
    val wantRows = pages.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val gotRows = back.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(gotRows == wantRows && wantRows.size == 300)
  }

  test("streaming ingestion: segments → readPagesStream → snapshotSink equals batch, exactly once") {
    // the CC front door: gzip segments land in a dir; the file-source
    // checkpoint discovers each once, pages flow through the same record
    // walk, and snapshotSink commits micro-batches as idempotent waves
    val dir = tempDir("graft_warcs_in")
    val root = tempDir("graft_warcs_tbl")
    val ckpt = tempDir("graft_warcs_ck")
    val pages = Fixtures.pages(spark, 120, partitions = 3).toDF()
      .select("url", "warc_ts", "html")
    Warc.writePages(pages, dir, gzip = true)
    def transform(df: org.apache.spark.sql.DataFrame) =
      df.select(col("url"), md5(col("html")).as("html_md5"),
        length(col("html")).cast("long").as("html_len"))
    // one file per batch exercises multi-wave commits
    val q = graft.snap.SnapshotSink.snapshotSink(
        Warc.readPagesStream(spark, dir, maxFilesPerTrigger = 1), root, "cc_pages", ckpt)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = graft.snap.SnapshotCatalog.read(spark, root, "cc_pages")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val want = transform(Warc.readPages(spark, dir))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && want.size == 120)
    val waves = graft.snap.SnapshotCatalog.currentManifest(root, "cc_pages").get.completedWaves
    assert(waves.size > 1, s"expected one wave per segment file, got $waves")
    // restart over the same checkpoint: no new data, no new waves
    val q2 = graft.snap.SnapshotSink.snapshotSink(
        Warc.readPagesStream(spark, dir, maxFilesPerTrigger = 1), root, "cc_pages", ckpt)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(graft.snap.SnapshotCatalog.currentManifest(root, "cc_pages").get
      .completedWaves == waves)
  }

  test("gzipped segments (per-record members, CC layout) round-trip identically") {
    val dir = tempDir("graft_warcgz")
    val pages = Fixtures.pages(spark, 150, partitions = 3).toDF()
      .select("url", "warc_ts", "html")
    Warc.writePages(pages, dir, gzip = true)
    assert(new java.io.File(dir).listFiles().forall(_.getName.endsWith(".warc.gz")))
    val back = Warc.readPages(spark, dir)
    val want = pages.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val got = back.collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(got == want && want.size == 150)
    // undecodable .gz bytes drop the segment, not the job
    Files.write(java.nio.file.Paths.get(dir, "corrupt.warc.gz"), Array[Byte](1, 2, 3))
    assert(Warc.readPages(spark, dir).count() == 150)
  }

  test("extraction over WARC-read pages equals extraction over the original table") {
    val dir = tempDir("graft_warc2")
    val pages = Fixtures.pages(spark, 120, partitions = 2).toDF()
    Warc.writePages(pages.select("url", "warc_ts", "html"), dir)
    def ents(df: org.apache.spark.sql.DataFrame) = df
      .select(col("url"), graft.functions.extract_geo(col("html"))
        .as(Seq("entity_idx", "source", "lat", "lon")))
      .as[(String, Int, String, Double, Double)].collect().toSet
    assert(ents(Warc.readPages(spark, dir)) == ents(pages))
  }

  test("malformed records are skipped, not fatal; later records survive") {
    val good1 = Warc.renderRecord("https://a.example/1",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "<html>1</html>".getBytes)
    val good2 = Warc.renderRecord("https://a.example/2",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "<html>2</html>".getBytes)
    // bad record: Content-Length larger than the remaining bytes
    val bad = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: https://a.example/bad\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "Content-Length: 99999\r\n\r\nshort").getBytes
    // non-response record types are parsed but filtered by readPages
    val info = ("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n\r\nok\r\n\r\n").getBytes
    val seg = good1 ++ bad ++ info ++ good2
    val recs = Warc.parseSegment(seg)
    assert(recs.count(_.header("WARC-Type").contains("response")) == 2)
    assert(recs.exists(_.header("WARC-Type").contains("warcinfo")))
    val uris = recs.flatMap(_.header("WARC-Target-URI"))
    assert(uris.contains("https://a.example/1") && uris.contains("https://a.example/2"))
    assert(!recs.exists(r => r.header("WARC-Target-URI").contains("https://a.example/bad")
      && r.payload.nonEmpty))
  }

  test("parseSegment is total on arbitrary bytes") {
    def randomBytes(seed: Long, maxLen: Int): Array[Byte] = {
      val len = (mix(seed) & 0x7fffffff).toInt % (maxLen + 1)
      Array.tabulate(len)(i => (mix(seed * 1000003L + i) & 0xff).toByte)
    }
    (0 until 1500).foreach { s => Warc.parseSegment(randomBytes(s, 300)) }
    // byte soups seeded with the magic to exercise the header parser
    (0 until 1000).foreach { s =>
      Warc.parseSegment("WARC/1.0\r\n".getBytes ++ randomBytes(s + 5000, 150))
    }
    // truncations of a valid record at every length
    val valid = Warc.renderRecord("https://t.example/x",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "<html>x</html>".getBytes)
    (0 until valid.length).foreach { n =>
      Warc.parseSegment(java.util.Arrays.copyOf(valid, n))
    }
  }

  // ----- CDX-style index + random access -----

  test("parseSegmentEntries: offsets/lengths slice back to the same records") {
    val recs = (0 until 5).map(i => Warc.renderRecord(s"https://e.com/$i",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), s"<html>$i</html>".getBytes))
    val junk = "JUNKJUNK".getBytes
    val seg = (junk ++ recs(0) ++ recs(1) ++ junk ++ recs(2) ++ recs(3) ++ recs(4)).toArray
    val entries = Warc.parseSegmentEntries(seg)
    assert(entries.size == 5)
    assert(entries.map(_.offset) == entries.map(_.offset).sorted)
    entries.foreach { e =>
      val slice = java.util.Arrays.copyOfRange(seg, e.offset.toInt, (e.offset + e.length).toInt)
      val re = Warc.parseSegment(slice)
      assert(re.size == 1)
      assert(re.head.header("WARC-Target-URI") == e.record.header("WARC-Target-URI"))
      assert(re.head.payload.toSeq == e.record.payload.toSeq)
    }
  }

  test("indexPages + readRecordsAt: seek round-trip on plain and inflate round-trip on gz") {
    for (gz <- Seq(false, true)) {
      val dir = tempDir(s"graft_cdx_$gz")
      val pages = Fixtures.pages(spark, 120, partitions = 3).toDF()
        .select("url", "warc_ts", "html")
      Warc.writePages(pages, dir, gzip = gz)
      val index = Warc.indexPages(spark, dir)
      assert(index.count() == 120)
      // index digests match the payloads the full reader sees
      val viaRead = Warc.readPages(spark, dir)
        .select(col("url"), md5(col("html")).as("m")).as[(String, String)].collect().toMap
      val viaIndex = index.select("url", "payload_md5").as[(String, String)].collect().toMap
      assert(viaIndex == viaRead)
      // offsets strictly increase within each segment
      val offs = index.select("segment", "offset").as[(String, Long)].collect()
        .groupBy(_._1).values.map(_.map(_._2).sorted.toSeq)
      assert(offs.forall(o => o == o.distinct))
      // random access over a SUBSET: every 3rd record, byte-identical html
      val subset = index.where(pmod(xxhash64(col("url")), lit(3)) === 0)
      val got = Warc.readRecordsAt(subset)
        .select(col("url"), md5(col("html")).as("m")).as[(String, String)].collect().toMap
      val want = subset.select("url", "payload_md5").as[(String, String)].collect().toMap
      assert(got == want && got.nonEmpty, s"gz=$gz")
    }
  }

  // ----- HTTP response envelope split -----

  test("httpStatus/httpHeader/httpBody: envelope split, missing pieces, pass-through") {
    val rows = Seq(
      "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\nX-N: 7\r\n\r\n<html>a</html>",
      "HTTP/1.0 404 Not Found\r\nServer: x\r\n\r\nmissing",
      "HTTP/1.1 301 Moved\r\nLocation: /new\r\n\r\n",  // empty body
      "<html>raw capture, no envelope</html>",          // pre-HTTP payload
      "HTTP/1.1 200 OK\r\nbroken-no-blank-line")        // malformed envelope
      .toDF("p")
    val got = rows.select(
      Warc.httpStatus(col("p")).as("st"),
      Warc.httpHeader(col("p"), "Content-Type").as("ct"),
      Warc.httpHeader(col("p"), "x-n").as("xn"),
      Warc.httpBody(col("p")).as("body"))
      .as[(Option[Int], Option[String], Option[String], String)].collect().toSeq
    assert(got == Seq(
      (Some(200), Some("text/html; charset=utf-8"), Some("7"), "<html>a</html>"),
      (Some(404), None, None, "missing"),
      (Some(301), None, None, ""),
      (None, None, None, "<html>raw capture, no envelope</html>"),
      (Some(200), None, None, "HTTP/1.1 200 OK\r\nbroken-no-blank-line")))
    // a header NAME occurring only in the body is not a header
    val sneaky = Seq("HTTP/1.1 200 OK\r\nA: 1\r\n\r\nx-n: 99").toDF("p")
    assert(sneaky.select(Warc.httpHeader(col("p"), "x-n")).as[Option[String]].head().isEmpty)
  }
}
