package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.operators.Multimodal
import graft.snap.SnapshotSink
import graft.sources.Fixtures

class StreamingAndMultimodalSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("curation mixing is a stateless streaming filter: stream == batch subset") {
    // deterministic hash sampling has no state, no watermark, no window —
    // it composes with readStream as a plain filter, and the streamed
    // subset is EXACTLY the batch subset (the decision is a pure function
    // of (key, salt), so micro-batch boundaries cannot change it)
    val dir = tempDir("graft_mix_stream")
    spark.range(0, 2000).select(
      col("id").as("doc_id"),
      concat(lit("src"), pmod(col("id"), lit(4)).cast("string")).as("source"))
      .write.mode("overwrite").parquet(dir)
    val rates = Map("src0" -> 1.0, "src1" -> 0.25)
    val stream = spark.readStream
      .schema("doc_id BIGINT, source STRING").parquet(dir)
    val q = graft.operators.Curation
      .mixCorpus(stream, "source", "doc_id", rates, 0.5, "s1")
      .writeStream.outputMode("append").format("memory").queryName("mix_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id FROM mix_stream").as[Long].collect().toSet
    val want = graft.operators.Curation
      .mixCorpus(spark.read.parquet(dir), "source", "doc_id", rates, 0.5, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < 2000)
  }

  test("curation front stages stream: lang gate + quality + decon (stream-static) + split == batch") {
    // the stateless PREFIX of the q119 curation screen composes with
    // readStream directly: langId/quality are scan-side projections, the
    // decontamination gram probe is a stream-STATIC join against the
    // batch benchmark (supported by Structured Streaming), and the split
    // is a stateless CASE. Stages needing corpus-wide state (exact/near
    // dedup, caps) belong to the batch/wave path — incrementalMinhash is
    // their streaming-adjacent form.
    val dir = tempDir("graft_curate_stream")
    // en text with an id-bearing token in EVERY 4-gram window (positions
    // 1/5/8/12 of 15), so only a doc's own benchmark copy contaminates
    // it — a fully shared prefix would contaminate the whole corpus
    def enText(id: org.apache.spark.sql.Column) = concat(
      lit("d"), id, lit(" the cat of p"), id, lit(" house and q"), id,
      lit(" dog is it s"), id, lit(" extra words pad"))
    spark.range(0, 600).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(3)) === 0, enText(col("id").cast("string")))
        .otherwise(concat(lit("zz yy xx ww vv uu tt ss rr qq pp oo token"),
          col("id").cast("string"))).as("text"),
      concat(lit("s"), pmod(col("id"), lit(5)).cast("string")).as("source"))
      .write.mode("overwrite").parquet(dir)
    val bench = spark.range(0, 600).where(col("id") % 90 === 0)
      .select(enText(col("id").cast("string")).as("text"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      // langIdWith: the column-preserving scan-side form — the narrow
      // langId projection would force a join-back, and a stream joined
      // to a derivative of itself is a rejected stream-stream join
      val inLang = graft.operators.TextAnalysis.langIdWith(df, "text")
        .where(col("pred_lang") === "en")
        .drop("pred_lang", "best_score")
        .where(size(split(col("text"), " ")) >= 10)
      // the scan-side decontamination FILTER (gram literal +
      // arrays_overlap): the join+groupBy form is a streaming
      // aggregation, which append mode rejects
      val clean = graft.operators.Curation
        .decontaminateFilter(inLang, "text", bench, "text", n = 4)
      graft.operators.Curation.splitByGroup(
        clean, "source", Seq(("train", 4L), ("valid", 1L)), "sp")
        .select("doc_id", "source", "split")
    }
    val stream = spark.readStream
      .schema("doc_id BIGINT, text STRING, source STRING").parquet(dir)
    val q = pipeline(stream)
      .writeStream.outputMode("append").format("memory").queryName("curate_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id, source, split FROM curate_stream")
      .as[(Long, String, String)].collect().toSet
    val want = pipeline(spark.read.parquet(dir))
      .as[(Long, String, String)].collect().toSet
    assert(got == want)
    // the gates actually fired: zh-ish docs dropped, benchmark hits dropped
    assert(want.nonEmpty && want.size < 200)
    assert(!want.exists(_._1 % 90 == 0))
  }

  test("PII scrub + repetition filter are stateless streaming transforms: stream == batch") {
    // both ops are scan-side projections/filters (no state, no watermark),
    // so they compose with readStream directly and micro-batch boundaries
    // cannot change a single row
    val dir = tempDir("graft_scrub_stream")
    spark.range(0, 500).select(
      col("id").as("doc_id"),
      concat(
        when(pmod(col("id"), lit(3)) === 0,
          lit("dup dup dup dup dup dup dup dup dup dup mail "))
          .otherwise(lit("clean words here mail ")),
        lit("u"), col("id").cast("string"), lit("@ex.org done")).as("text"))
      .write.mode("overwrite").parquet(dir)
    def pipeline(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextAnalysis.scrubPii(
        graft.operators.TextAnalysis.repetitionFilter(df, "text", maxDupBp = 5000), "text")
    val stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(dir)
    val q = pipeline(stream)
      .writeStream.outputMode("append").format("memory").queryName("scrub_stream")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT doc_id, text FROM scrub_stream")
      .as[(Long, String)].collect().toSet
    val want = pipeline(spark.read.parquet(dir))
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(got == want)
    // the filter dropped the repetitive third and the scrub hit every row
    assert(want.nonEmpty && want.size < 500)
    assert(want.forall(_._2.contains("<EMAIL>")))
  }

  test("snapshotSink commits micro-batches as snapshot waves, exactly once") {
    val dir = tempDir("graft_sink_in")
    val root = tempDir("graft_sink_tbl")
    val ckpt = tempDir("graft_sink_ck")
    Fixtures.pages(spark, 200, partitions = 4).toDF()
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    def transform(df: org.apache.spark.sql.DataFrame) =
      df.select(col("url"), length(col("html")).cast("long").as("html_len"))
    val q = SnapshotSink.snapshotSink(stream, root, "pages_len", ckpt)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the committed snapshot table equals the batch equivalent
    val got = graft.snap.SnapshotCatalog.read(spark, root, "pages_len")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = transform(spark.read.parquet(dir))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want && want.size == 200)
    // lineage rows exist per batch; wave ids are the batch ids
    val m = graft.snap.SnapshotCatalog.currentManifest(root, "pages_len").get
    assert(m.completedWaves.nonEmpty)
    // replaying the SAME batch id (the crash-recovery path) is a no-op
    val replayed = graft.snap.SnapshotCatalog.commitWave(
      spark, spark.read.parquet(dir), m.completedWaves.head, root, "pages_len")(transform)
    assert(!replayed)
    assert(graft.snap.SnapshotCatalog.read(spark, root, "pages_len").count() == 200)
    // restarting the stream over the same checkpoint finds no new data
    val q2 = SnapshotSink.snapshotSink(
        spark.readStream.schema(schema).parquet(dir), root, "pages_len", ckpt)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(graft.snap.SnapshotCatalog.currentManifest(root, "pages_len").get
      .completedWaves == m.completedWaves)
  }

  test("snapshotSink refuses a FRESH checkpoint over a table it streamed before") {
    // the silent-drop hazard: a fresh checkpoint restarts batch ids at 0;
    // wave-0 idempotence would swallow its (possibly new) rows without the
    // ownership guard — even when wave 0 is also the table's LATEST wave
    // (the single-batch AvailableNow case the old latest-wave heuristic
    // accepted as a replay)
    val dir = tempDir("graft_sink_in3")
    val root = tempDir("graft_sink_tbl3")
    Fixtures.pages(spark, 40, partitions = 1).toDF() // 1 input file → 1 batch
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    def transform(df: org.apache.spark.sql.DataFrame) =
      df.select(col("url"), length(col("html")).cast("long").as("html_len"))
    val ckpt1 = tempDir("graft_sink_ck3a")
    val q1 = SnapshotSink.snapshotSink(
        spark.readStream.schema(schema).parquet(dir), root, "t_own", ckpt1)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val waves = graft.snap.SnapshotCatalog.currentManifest(root, "t_own").get.completedWaves
    // a DIFFERENT (fresh) checkpoint over the same table must fail loudly
    val ckpt2 = tempDir("graft_sink_ck3b")
    val q2 = SnapshotSink.snapshotSink(
        spark.readStream.schema(schema).parquet(dir), root, "t_own", ckpt2)(transform)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q2.awaitTermination())
    def msg(t: Throwable): String =
      Option(t).map(x => x.getMessage + msg(x.getCause)).getOrElse("")
    assert(msg(e).contains("owned by streaming checkpoint"), msg(e))
    // table untouched by the refused stream
    assert(graft.snap.SnapshotCatalog.currentManifest(root, "t_own").get
      .completedWaves == waves)
    assert(graft.snap.SnapshotCatalog.read(spark, root, "t_own").count() == 40)
  }

  test("snapshotSink refuses a table whose waves were written by a batch run") {
    val dir = tempDir("graft_sink_in2")
    val root = tempDir("graft_sink_tbl2")
    val ckpt = tempDir("graft_sink_ck2")
    Fixtures.pages(spark, 50, partitions = 2).toDF()
      .write.mode("overwrite").parquet(dir)
    // table pre-populated by a BATCH run: wave ids 0..1 already committed
    graft.snap.SnapshotCatalog.resumableRun(
      spark, spark.read.parquet(dir), "url", waves = 2, root, "t_batch")(identity)
    val q = SnapshotSink.snapshotSink(
        spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir),
        root, "t_batch", ckpt)(identity)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination())
    assert(e.getMessage.contains("snapshotSink") ||
      Option(e.getCause).exists(_.getMessage.contains("snapshotSink")), e.getMessage)
    // the pre-existing batch table is untouched
    assert(graft.snap.SnapshotCatalog.read(spark, root, "t_batch").count() == 50)
  }

  test("multimodal: image meta, frame sampling, embeddings (stub kernels, real plumbing)") {
    val media = Multimodal.syntheticMedia(spark, 90)
    val metas = Multimodal.imageMeta(media)
    assert(metas.count() == 30) // every 3rd is an image
    assert(metas.filter(m => m.width < 64 || m.width > 1087).count() == 0)
    // deterministic: same input → same metadata
    val again = Multimodal.imageMeta(Multimodal.syntheticMedia(spark, 90))
    assert(metas.collect().sortBy(_.key).toSeq == again.collect().sortBy(_.key).toSeq)

    val frames = Multimodal.sampleFrames(media, everyMs = 5000)
    assert(frames.count() > 30) // every video yields ≥1 frame
    assert(frames.filter(f => f.offsetMs % 5000 != 0).count() == 0)

    val emb = Multimodal.embed(media, dim = 16)
    assert(emb.count() == 90)
    assert(emb.filter(_.vec.length != 16).count() == 0)
    // embeddings flow into the similarity operator unchanged
    val df = emb.toDF("key", "vec")
    val q = df.where(col("key") < 3).select(col("key").as("q_key"), col("vec"))
    val top = graft.operators.Similarity.bruteTopK(q, "q_key", "vec", df, "key", "vec", k = 2)
    assert(top.count() == 6)
  }

  test("PPM codec: encode/decode round-trip, header grammar, malformed rejection") {
    val rgb = Array.tabulate(5 * 4 * 3)(i => (i * 7 % 256).toByte)
    val enc = Multimodal.encodePpm(5, 4, rgb)
    val Some((w, h, back)) = Multimodal.decodePpm(enc)
    assert(w == 5 && h == 4 && back.toSeq == rgb.toSeq)
    // netpbm header grammar: comments and arbitrary whitespace between tokens
    val weird = ("P6\n# a comment\n  5 # widths\n\t4\r\n# more\n255\n").getBytes("US-ASCII") ++ rgb
    val Some((w2, h2, back2)) = Multimodal.decodePpm(weird)
    assert(w2 == 5 && h2 == 4 && back2.toSeq == rgb.toSeq)
    // rejections: wrong magic, truncated raster, 16-bit maxval, zero dims
    assert(Multimodal.decodePpm("P5\n5 4\n255\n".getBytes ++ rgb).isEmpty)
    assert(Multimodal.decodePpm(enc.dropRight(1)).isEmpty)
    assert(Multimodal.decodePpm("P6\n5 4\n65535\n".getBytes ++ rgb).isEmpty)
    assert(Multimodal.decodePpm("P6\n0 4\n255\n".getBytes).isEmpty)
    // Int-overflow header: 715827883*2*3 wraps to 2 — must NOT decode
    assert(Multimodal.decodePpm("P6\n715827883 2\n255\n".getBytes ++ Array[Byte](1, 2)).isEmpty)
  }

  test("WAV codec: round-trip, chunk walking with odd padding, rejection") {
    val samples = Array.tabulate(100)(i => ((i * 997) % 65536 - 32768).toShort)
    val enc = Multimodal.encodeWavPcm16(8000, samples)
    val Some((rate, back)) = Multimodal.decodeWavPcm16(enc)
    assert(rate == 8000 && back.toSeq == samples.toSeq)
    // a LIST chunk with odd size before fmt/data — walker must pad to even
    val odd = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0, 1, 2, 3)
    val withChunk = enc.take(12) ++ odd ++ Array[Byte](0) ++ enc.drop(12)
    // fix RIFF size field (12.. header + inserted 12 bytes)
    val riffSz = withChunk.length - 8
    withChunk(4) = (riffSz & 0xff).toByte; withChunk(5) = ((riffSz >> 8) & 0xff).toByte
    withChunk(6) = ((riffSz >> 16) & 0xff).toByte; withChunk(7) = ((riffSz >> 24) & 0xff).toByte
    val Some((rate2, back2)) = Multimodal.decodeWavPcm16(withChunk)
    assert(rate2 == 8000 && back2.toSeq == samples.toSeq)
    // rejections: stereo flag, truncated data, non-RIFF
    assert(Multimodal.decodeWavPcm16(enc.dropRight(2)).isEmpty)
    assert(Multimodal.decodeWavPcm16("nope".getBytes).isEmpty)
    // Int-overflow chunk size (~2^31): bound check must not wrap
    val evil = enc.take(12) ++ Array[Byte]('J', 'U', 'N', 'K',
      0xf4.toByte, 0xff.toByte, 0xff.toByte, 0x7f.toByte)
    assert(Multimodal.decodeWavPcm16(evil).isEmpty)
  }

  test("image pipeline: synthetic pixels → stats and resize match pure-Scala recompute") {
    val imgs = Multimodal.syntheticPpm(spark, 20, 16, 12)
    val stats = Multimodal.rgbStats(imgs).collect().map(s => s.key -> s).toMap
    assert(stats.size == 20)
    for (k <- 0L until 20L) {
      var r = 0L; var g = 0L; var b = 0L
      for (y <- 0 until 12; x <- 0 until 16) {
        r += (3 * k + 7 * x + 13 * y) % 256
        g += (5 * k + 11 * x + 17 * y) % 256
        b += (7 * k + 13 * x + 19 * y) % 256
      }
      val s = stats(k)
      assert(s.width == 16 && s.height == 12 && s.sum_r == r && s.sum_g == g && s.sum_b == b)
    }
    // nearest-neighbour resize: output pixel (x,y) = source pixel (2x, 2y)
    val small = Multimodal.rgbStats(Multimodal.resizeNearest(imgs, 8, 6))
      .collect().map(s => s.key -> s).toMap
    for (k <- 0L until 20L) {
      var r = 0L
      for (y <- 0 until 6; x <- 0 until 8) r += (3 * k + 7 * (2 * x) + 13 * (2 * y)) % 256
      assert(small(k).width == 8 && small(k).height == 6 && small(k).sum_r == r)
    }
  }

  test("audio pipeline: synthetic samples → stats match pure-Scala recompute") {
    val stats = Multimodal.audioStats(Multimodal.syntheticWav(spark, 10, 8000, 1600))
      .collect().map(s => s.key -> s).toMap
    assert(stats.size == 10)
    for (k <- 0L until 10L) {
      val sumAbs = (0 until 1600).map(i => math.abs((31 * k + 17 * i) % 65536 - 32768)).sum
      val s = stats(k)
      assert(s.sample_rate == 8000 && s.n_samples == 1600 &&
        s.duration_ms == 200 && s.sum_abs == sumAbs)
    }
  }

  test("audio frame-sampling: per-frame integer features, ragged tail, frames sum to stats") {
    // 1600 samples / 700-sample frames -> frames of 700, 700, 200
    val frames = Multimodal.audioFrames(
        Multimodal.syntheticWav(spark, 6, 8000, 1600), 700)
      .collect().map(f => (f.key, f.frame_idx) -> f).toMap
    assert(frames.size == 18)
    def sample(k: Long, i: Int): Long = math.abs((31 * k + 17 * i) % 65536 - 32768)
    for (k <- 0L until 6L; fi <- 0 until 3) {
      val f = frames((k, fi))
      val idx = (fi * 700) until math.min(fi * 700 + 700, 1600)
      assert(f.n == idx.size)
      assert(f.offset_ms == fi * 700L * 1000L / 8000L)
      assert(f.sum_abs == idx.map(sample(k, _)).sum)
      assert(f.peak == idx.map(sample(k, _)).max)
      assert(f.sum_sq == idx.map(i => sample(k, i) * sample(k, i)).sum)
    }
    // frame sums reconstruct the whole-clip stats (no sample lost or doubled)
    val stats = Multimodal.audioStats(Multimodal.syntheticWav(spark, 6, 8000, 1600))
      .collect().map(s => s.key -> s.sum_abs).toMap
    for (k <- 0L until 6L)
      assert((0 until 3).map(fi => frames((k, fi)).sum_abs).sum == stats(k))
  }

  test("audio frame-sampling: non-audio and malformed payloads yield no frames") {
    import spark.implicits._
    val mixed = Seq(
      Multimodal.Media(1L, "image", Array[Byte](1, 2, 3)),
      Multimodal.Media(2L, "audio", Array[Byte](9, 9, 9)), // not a WAV
      Multimodal.Media(3L, "audio",
        Multimodal.encodeWavPcm16(8000, Array[Short](5, -5, 7)))).toDS()
    val got = Multimodal.audioFrames(mixed, 2).collect().sortBy(_.frame_idx)
    assert(got.map(_.key).toSeq == Seq(3L, 3L))
    assert(got(0).n == 2 && got(0).sum_abs == 10 && got(0).peak == 5 && got(0).sum_sq == 50)
    assert(got(1).n == 1 && got(1).sum_abs == 7 && got(1).peak == 7 && got(1).sum_sq == 49)
  }
}
