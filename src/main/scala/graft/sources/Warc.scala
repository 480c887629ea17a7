package graft.sources

import java.nio.charset.StandardCharsets.US_ASCII
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * From-scratch WARC/1.0 reader + writer — the container format
 * Common-Crawl actually ships pages in (the north-rule input is a
 * "Common-Crawl-style web page" table), and like PPM/WAV it is a plain
 * byte layout needing no external library:
 *
 *   WARC/1.0\r\n
 *   <Header-Name>: <value>\r\n …          (ASCII; values may be UTF-8)
 *   Content-Length: <n>\r\n
 *   \r\n
 *   <n payload bytes>\r\n\r\n             (record terminator)
 *
 * Reader contract mirrors the media codecs: a malformed record is
 * SKIPPED (scan resumes at the next "WARC/1.0\r\n" magic), never thrown —
 * a single corrupt record in a 100 TB crawl must cost one record, not
 * the job. Payload bytes are returned verbatim (byte-identical html —
 * the north-rule invariant — rides through untouched).
 *
 * Spark integration: `readPages` uses the built-in `binaryFile` source
 * (one file per row, segment-per-task parallelism — matching how CC
 * distributes work: thousands of ~1 GB segment files; record splitting
 * happens inside the task). `.warc.gz` segments — the form CC actually
 * publishes, a concatenation of per-record gzip members — are inflated
 * with the JDK's multi-member-aware GZIPInputStream before the same
 * record walk.
 */
object Warc {

  final case class Record(headers: Seq[(String, String)], payload: Array[Byte]) {
    def header(name: String): Option[String] =
      headers.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
  }

  private val Magic = "WARC/1.0\r\n".getBytes(US_ASCII)

  /** Write one response record (canonical header subset). */
  def renderRecord(targetUri: String, date: java.sql.Timestamp,
      payload: Array[Byte]): Array[Byte] = {
    val iso = date.toInstant.toString
    val head = (s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" +
      s"WARC-Target-URI: $targetUri\r\n" +
      s"WARC-Date: $iso\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n").getBytes("UTF-8")
    val out = new Array[Byte](head.length + payload.length + 4)
    System.arraycopy(head, 0, out, 0, head.length)
    System.arraycopy(payload, 0, out, head.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** One well-formed record plus its byte position in the segment:
   * `offset` = start of the "WARC/1.0" magic, `length` = header + payload
   * bytes (enough for [[parseSegment]] to re-parse the slice alone). */
  final case class SegmentEntry(record: Record, offset: Long, length: Long)

  /** Total parser with positions: every well-formed record in the
   * segment, in order; malformed bytes are skipped to the next magic. */
  def parseSegmentEntries(bytes: Array[Byte]): Seq[SegmentEntry] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SegmentEntry]
    var pos = indexOf(bytes, Magic, 0)
    while (pos >= 0) {
      var next = -1 // where to resume scanning if this record is malformed
      val headerStart = pos + Magic.length
      val headerEnd = indexOf(bytes, "\r\n\r\n".getBytes(US_ASCII), headerStart)
      if (headerEnd < 0) { pos = -1 } // no header terminator → done
      else {
        val headerText = new String(bytes, headerStart, headerEnd - headerStart, "UTF-8")
        val headers = headerText.split("\r\n").toSeq.flatMap { line =>
          val c = line.indexOf(':')
          if (c <= 0) None else Some(line.substring(0, c).trim -> line.substring(c + 1).trim)
        }
        val rec = Record(headers, Array.empty)
        val lenOk = rec.header("Content-Length").flatMap(v => v.toLongOption)
          .filter(n => n >= 0 && n <= Int.MaxValue)
        val bodyStart = headerEnd + 4
        lenOk match {
          case Some(n) if bodyStart.toLong + n <= bytes.length =>
            val payload = java.util.Arrays.copyOfRange(bytes, bodyStart, bodyStart + n.toInt)
            next = bodyStart + n.toInt
            out += SegmentEntry(rec.copy(payload = payload), pos.toLong, (next - pos).toLong)
          case _ =>
            next = headerStart // malformed: rescan after this magic
        }
        pos = indexOf(bytes, Magic, next)
      }
    }
    out.toSeq
  }

  /** Total parser: every well-formed record in the segment, in order;
   * malformed bytes are skipped to the next magic. */
  def parseSegment(bytes: Array[Byte]): Seq[Record] =
    parseSegmentEntries(bytes).map(_.record)

  /** Inflate a (possibly multi-member) gzip segment; None if the bytes
   * are not valid gzip — same skip-don't-throw contract as the parser. */
  def gunzip(bytes: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes), 64 * 1024)
      val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }

  /** Read a directory of .warc / .warc.gz segments into the canonical
   * pages shape (url, warc_ts, html BINARY) — response records with a
   * target URI; anything else (warcinfo, request, malformed or
   * undecodable segments) is dropped. */
  def readPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, raw) => segmentPages(path, raw) }
      .toDF("url", "warc_ts", "html")
  }

  /** Streaming flavour of [[readPages]] — the Common-Crawl ingestion
   * front door: segments LAND in a directory (the shape CC distribution
   * takes: thousands of independent .warc.gz files appearing over time),
   * Structured Streaming discovers each exactly once via the file
   * source's checkpointed log, and the same record walk runs per
   * segment. Compose with [[graft.snap.SnapshotSink.snapshotSink]] for an
   * end-to-end exactly-once "crawl segments → snapshot table" pipeline
   * (micro-batch replays are absorbed by wave idempotence + the
   * checkpoint-ownership marker). `maxFilesPerTrigger` bounds per-batch
   * work — segment-granular backpressure. */
  def readPagesStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 64): DataFrame = {
    import spark.implicits._
    // streaming sources require an explicit schema; this is binaryFile's
    // fixed one (path, modificationTime, length, content)
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.warc*")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, raw) => segmentPages(path, raw) }
      .toDF("url", "warc_ts", "html")
  }

  // ======== HTTP response envelope (CC response-record payloads) ==========
  //
  // Real Common-Crawl response records carry "HTTP/1.1 200 OK\r\n
  // <headers>\r\n\r\n<body>" payloads — splitting the envelope is the
  // first processing step after the record walk. These are pure
  // Column functions over codegen'd builtins (no UDF, scan-side, exact
  // DuckDB mirrors for the oracle). STRING scope: callers cast the
  // payload to string first; byte-exact bodies in non-UTF-8 charsets
  // need a binary split and are out of scope (documented).

  import org.apache.spark.sql.Column

  /** Status code of an HTTP envelope; null when the payload has none. */
  def httpStatus(payload: Column): Column =
    when(payload.startsWith("HTTP/"),
      regexp_extract(substring_index(payload, "\r\n", 1),
        "^HTTP/[0-9.]+ ([0-9]{3})", 1).cast("int"))

  /** Value of header `name` (case-insensitive name match; the returned
   * value is lowercased and trimmed — fine for media types and
   * directives, documented). Null when absent or no envelope. */
  def httpHeader(payload: Column, name: String): Column = {
    val block = concat(lit("\r\n"),
      lower(substring_index(payload, "\r\n\r\n", 1)), lit("\r\n"))
    val marker = "\r\n" + name.toLowerCase(java.util.Locale.ROOT) + ":"
    val pos = instr(block, marker)
    when(payload.startsWith("HTTP/") && payload.contains("\r\n\r\n") && pos > 0,
      trim(substring_index(block.substr(pos + lit(marker.length), length(block)), "\r\n", 1)))
  }

  /** Body of an HTTP envelope; a payload with no envelope IS the body
   * (pre-HTTP captures pass through unchanged). */
  def httpBody(payload: Column): Column =
    when(payload.startsWith("HTTP/") && payload.contains("\r\n\r\n"),
      payload.substr(length(substring_index(payload, "\r\n\r\n", 1)) + 5, length(payload)))
      .otherwise(payload)

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"$b%02x").mkString

  /**
   * CDX-style record index — the lookup structure Common Crawl publishes
   * beside its segments so consumers can fetch ONE record out of 100 TB
   * instead of scanning: one row per response record with its segment
   * path, byte offset, length and a portable md5 payload digest (the
   * digest column alone supports exact dedup and integrity audits
   * without ever re-reading payloads). Offsets address the UNCOMPRESSED
   * record stream; for `.warc.gz` segments that is the inflated stream
   * (the reader inflates segment-at-a-time — record-level range requests
   * into CC's per-record gzip members need compressed member offsets,
   * out of scope and documented). Build cost = one segment-per-task scan,
   * same as [[readPages]], but the OUTPUT is index-sized (no payloads
   * shuffle or land anywhere).
   */
  def indexPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, raw) =>
        val seg = if (path.endsWith(".gz")) gunzip(raw).getOrElse(Array.empty[Byte]) else raw
        parseSegmentEntries(seg).iterator
          .filter(_.record.header("WARC-Type").contains("response"))
          .flatMap(e => page(e.record).map { case (uri, ts, payload) =>
            (uri, ts, path, e.offset, e.length, md5Hex(payload))
          })
      }
      .toDF("url", "warc_ts", "segment", "offset", "length", "payload_md5")
  }

  /**
   * Random access: materialize the records an [[indexPages]] subset
   * points at, WITHOUT scanning the segments. Rows are routed to the
   * executor holding their segment (repartition on segment path) and
   * read in offset order: plain `.warc` segments are served by
   * `seek(offset)` + `readFully(length)` through the Hadoop FileSystem
   * (true range reads — on object storage these become ranged GETs);
   * `.warc.gz` segments are inflated once per segment and sliced (the
   * documented offset semantics above). Reading k records costs
   * O(k · record) I/O for plain segments, not O(corpus).
   */
  def readRecordsAt(index: DataFrame): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    index.select(col("segment"), col("offset"), col("length"))
      .repartition(col("segment"))
      .sortWithinPartitions("segment", "offset")
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        var curSeg: String = null
        var stream: org.apache.hadoop.fs.FSDataInputStream = null
        var inflated: Array[Byte] = null
        def closeStream(): Unit =
          if (stream != null) { stream.close(); stream = null }
        val rows = it.flatMap { case (seg, off, len) =>
          if (seg != curSeg) {
            closeStream(); inflated = null; curSeg = seg
            val p = new org.apache.hadoop.fs.Path(seg)
            val fs = p.getFileSystem(confB.value.value)
            if (seg.endsWith(".gz")) {
              // .gz segments are materialized whole before inflating (the
              // documented whole-segment offset semantics); a segment whose
              // compressed length exceeds a byte array's 2 GiB limit can't
              // be, so it is SKIPPED like any malformed record (the
              // reader's skip-don't-throw contract) — `.toInt` on such a
              // length would wrap negative and abort the job instead.
              // Standard WARC practice caps segments at ~1 GiB.
              val segLen = fs.getFileStatus(p).getLen
              if (segLen > Int.MaxValue - 8) {
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"skipping oversized .warc.gz segment ($segLen bytes > 2 GiB): $seg")
                inflated = Array.empty[Byte]
              } else {
                val raw = new Array[Byte](segLen.toInt)
                val in = fs.open(p)
                try in.readFully(0, raw) finally in.close()
                inflated = gunzip(raw).getOrElse(Array.empty[Byte])
              }
            } else stream = fs.open(p)
          }
          val slice =
            if (inflated != null) {
              if (off + len <= inflated.length)
                Some(java.util.Arrays.copyOfRange(inflated, off.toInt, (off + len).toInt))
              else None
            } else {
              val buf = new Array[Byte](len.toInt)
              stream.seek(off)
              stream.readFully(buf, 0, len.toInt)
              Some(buf)
            }
          slice.flatMap(parseSegment(_).headOption).flatMap(page)
        }
        // close the final segment's stream once the iterator drains
        new Iterator[(String, java.sql.Timestamp, Array[Byte])] {
          def hasNext: Boolean = { val h = rows.hasNext; if (!h) closeStream(); h }
          def next(): (String, java.sql.Timestamp, Array[Byte]) = rows.next()
        }
      }
      .toDF("url", "warc_ts", "html")
  }

  /** Shared per-segment record walk of [[readPages]]/[[readPagesStream]]. */
  private def segmentPages(path: String,
      raw: Array[Byte]): Iterator[(String, java.sql.Timestamp, Array[Byte])] = {
    val seg =
      if (path.endsWith(".gz")) gunzip(raw).getOrElse(Array.empty[Byte])
      else raw
    parseSegment(seg).iterator
      .filter(r => r.header("WARC-Type").contains("response"))
      .flatMap(page)
  }

  /** A record as one page row `(url, capture time, payload)`: its
   * `WARC-Target-URI`, its `WARC-Date` parsed as an ISO-8601 instant, its
   * payload bytes. None when either header is missing or the date does
   * not parse — the record is skipped, like any malformed record. */
  private def page(r: Record): Option[(String, java.sql.Timestamp, Array[Byte])] =
    for {
      uri <- r.header("WARC-Target-URI")
      ts <- r.header("WARC-Date").flatMap(d =>
        scala.util.Try(java.sql.Timestamp.from(java.time.Instant.parse(d))).toOption)
    } yield (uri, ts, r.payload)

  /** Close-shield: lets a per-record GZIPOutputStream be close()d — the
   * only public way to release its native Deflater eagerly — without
   * closing the long-lived segment stream under it. */
  private final class NoCloseStream(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = out.flush() // keep the underlying stream open
  }

  /** Write pages (url, warc_ts, html) as one .warc segment per partition
   * — the fixture/export side of [[readPages]], and the shape CC segments
   * come in (many independent files → file-granular parallel read).
   * Segments stream through the Hadoop FileSystem API, so the export
   * works against any shared storage the session is configured for
   * (file://, hdfs://, s3a://) — records are never buffered whole in
   * memory. File names are deterministic per partition and created with
   * overwrite, so a retried task simply rewrites its own segment
   * (idempotent; like Spark's own file sinks, speculative execution
   * should stay off for direct-filesystem output). With `gzip = true`
   * each RECORD is its own gzip member (CC's layout — it makes records
   * independently seekable/streamable). */
  def writePages(pages: DataFrame, dir: String, gzip: Boolean = false): Unit = {
    val spark = pages.sparkSession
    import spark.implicits._
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    dirPath.getFileSystem(hadoopConf).mkdirs(dirPath)
    // executors need the session's Hadoop conf (credentials, fs impls)
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
    val ext = if (gzip) "warc.gz" else "warc"
    pages.select(col("url"), col("warc_ts"), col("html"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .foreachPartition { (it: Iterator[(String, java.sql.Timestamp, Array[Byte])]) =>
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val path = new org.apache.hadoop.fs.Path(dir, f"segment-$pid%05d.$ext")
          val fs = path.getFileSystem(confB.value.value)
          // no .crc sidecars: the local ChecksumFileSystem would drop one
          // next to every segment (and ".warc.gz.crc" matches the reader's
          // "*.warc*" glob); HDFS/S3 integrity is transport/server-side
          fs.setWriteChecksum(false)
          val out = fs.create(path, true)
          try {
            it.foreach { case (url, ts, html) =>
              val rec = renderRecord(url, ts, html)
              if (gzip) {
                val gz = new java.util.zip.GZIPOutputStream(new NoCloseStream(out))
                gz.write(rec)
                gz.close() // release the native Deflater NOW — one leaks
                // per record otherwise (finalization-deferred release)
              } else out.write(rec)
            }
          } finally out.close()
        }
        () // foreachPartition wants Unit
      }
  }
}
