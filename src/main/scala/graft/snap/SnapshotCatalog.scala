package graft.snap

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._

/**
 * Iceberg-style snapshot catalog, from scratch (no Iceberg runtime exists
 * in this sandbox — SURVEY §7.1/§7.5): a table is a directory of immutable
 * parquet data files plus a chain of JSON manifests; the CURRENT pointer
 * is flipped by atomic rename, so readers never observe a torn commit.
 *
 * Layout:
 *   <root>/<table>/data/snap-<id>/…parquet      immutable data files
 *   <root>/<table>/manifest-<id>.json           snapshot metadata
 *   <root>/<table>/lineage-<id>.json            that commit's lineage rows
 *   <root>/<table>/CURRENT                      file containing <id>
 *
 * Manifest records: snapshot id, parent id, completed work units
 * ("waves" — the resume key), per-file row counts, and the list of
 * lineage SIDECAR files. Per-partition lineage rows (partition id,
 * input/output rows, wall ms — the north rule's "per-partition lineage +
 * metrics") live one immutable sidecar per commit: inlining them made
 * every manifest carry (and re-render) the FULL history —
 * O(waves² · partitions) JSON bytes at 64 waves × real partition counts
 * — where sidecars keep manifests O(waves) and each commit writes only
 * its own rows.
 *
 * Commit protocol (SURVEY §7.4-3): write data files → write manifest to a
 * temp name → fsync-equivalent move → atomic rename CURRENT.tmp→CURRENT.
 * Idempotent re-runs: committing an already-completed wave is a no-op
 * (the wave id is recorded in the manifest).
 */
object SnapshotCatalog {

  final case class LineageRow(
      wave: Int, partitionId: Int, inputRows: Long, outputRows: Long, wallMs: Long)

  final case class Manifest(
      table: String,
      snapshotId: Long,
      parentId: Long,
      completedWaves: Seq[Int],
      dataDirs: Seq[String],
      rowsPerWave: Map[Int, Long],
      lineageFiles: Seq[String])

  // ---- JSON (Jackson's tree model; field names are the on-disk format) ---
  // Tree nodes, not case-class binding: bound through jackson-module-scala
  // a Map[Int, Long] value comes back boxed as Integer (type erasure).
  private val json = new ObjectMapper()

  private def renderLineage(rows: Seq[LineageRow]): Array[Byte] = {
    val arr = json.createArrayNode()
    rows.foreach(l => arr.addObject().put("wave", l.wave).put("partition_id", l.partitionId)
      .put("input_rows", l.inputRows).put("output_rows", l.outputRows).put("wall_ms", l.wallMs))
    json.writeValueAsBytes(arr)
  }

  private def parseLineage(bytes: Array[Byte]): Seq[LineageRow] =
    json.readTree(bytes).asScala.map(n => LineageRow(n.path("wave").asInt,
      n.path("partition_id").asInt, n.path("input_rows").asLong,
      n.path("output_rows").asLong, n.path("wall_ms").asLong)).toSeq

  private def render(m: Manifest): Array[Byte] = {
    val o = json.createObjectNode()
      .put("table", m.table).put("snapshot_id", m.snapshotId).put("parent_id", m.parentId)
    val waves = o.putArray("completed_waves")
    m.completedWaves.sorted.foreach(w => waves.add(w))
    val dirs = o.putArray("data_dirs")
    m.dataDirs.foreach(dirs.add)
    val rows = o.putObject("rows_per_wave")
    m.rowsPerWave.toSeq.sortBy(_._1).foreach { case (w, n) => rows.put(w.toString, n) }
    val lineage = o.putArray("lineage_files")
    m.lineageFiles.foreach(lineage.add)
    json.writeValueAsBytes(o)
  }

  private def parse(bytes: Array[Byte]): Manifest = {
    val n = json.readTree(bytes)
    def strs(field: String): Seq[String] = n.path(field).asScala.map(_.asText).toSeq
    Manifest(n.path("table").asText, n.path("snapshot_id").asLong(-1L),
      n.path("parent_id").asLong(-1L), n.path("completed_waves").asScala.map(_.asInt).toSeq,
      strs("data_dirs"),
      n.path("rows_per_wave").properties.asScala.map(e => e.getKey.toInt -> e.getValue.asLong).toMap,
      strs("lineage_files"))
  }

  private def readManifestFile(dir: Path, snapshotId: Long): Manifest =
    parse(Files.readAllBytes(dir.resolve(s"manifest-$snapshotId.json")))

  // ---- catalog ops --------------------------------------------------------

  private def tableDir(root: String, table: String): Path = Paths.get(root, table)

  /** Registered tables under a catalog root (reference: list_projects,
   * tools/registration.py:115-122) — any directory with a CURRENT pointer. */
  def listTables(root: String): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Nil
    else {
      val stream = Files.list(r)
      try stream.iterator().asScala
        .filter(p => Files.exists(p.resolve("CURRENT")))
        .map(_.getFileName.toString).toSeq.sorted
      finally stream.close()
    }
  }

  /** Drop a table: delete its directory tree (reference: remove_project,
   * tools/registration.py:124-133). Idempotent. */
  def dropTable(root: String, table: String): Unit = {
    val dir = tableDir(root, table)
    if (Files.exists(dir)) deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    val stream = Files.walk(p)
    try stream.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally stream.close()
  }

  def currentSnapshotId(root: String, table: String): Option[Long] = {
    val cur = tableDir(root, table).resolve("CURRENT")
    if (Files.exists(cur)) Some(new String(Files.readAllBytes(cur)).trim.toLong) else None
  }

  def currentManifest(root: String, table: String): Option[Manifest] =
    currentSnapshotId(root, table).map { id =>
      readManifestFile(tableDir(root, table), id)
    }

  /** Atomically commit a new manifest (data dirs must already be written). */
  def commitManifest(root: String, table: String, m: Manifest): Unit = {
    val dir = tableDir(root, table)
    Files.createDirectories(dir)
    Files.write(dir.resolve(s"manifest-${m.snapshotId}.json"), render(m))
    val tmp = dir.resolve("CURRENT.tmp")
    Files.write(tmp, m.snapshotId.toString.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Read the CURRENT snapshot of a table. */
  def read(spark: SparkSession, root: String, table: String): DataFrame = {
    val m = currentManifest(root, table)
      .getOrElse(throw new IllegalStateException(s"no CURRENT snapshot for $table"))
    readManifest(spark, root, m)
  }

  /** Time travel: read the table AS OF `snapshotId` (manifests are
   * immutable, so any historical snapshot stays readable — the
   * Iceberg-style property that makes resume + audit cheap). */
  def readAt(spark: SparkSession, root: String, table: String, snapshotId: Long): DataFrame =
    readManifest(spark, root, manifestAt(root, table, snapshotId))

  private def manifestAt(root: String, table: String, snapshotId: Long): Manifest = {
    val dir = tableDir(root, table)
    require(Files.exists(dir.resolve(s"manifest-$snapshotId.json")),
      s"no snapshot $snapshotId for $table")
    readManifestFile(dir, snapshotId)
  }

  private def readManifest(spark: SparkSession, root: String, m: Manifest): DataFrame =
    if (m.dataDirs.isEmpty) spark.emptyDataFrame
    else readParquet(spark, m.dataDirs.map(d => tableDir(root, m.table).resolve(d)): _*)

  /**
   * Reads parquet `paths` (data files, or directories of them) with the
   * schema of the first data file's footer in path order, so building the
   * read starts no job: `spark.read.parquet` without a schema runs a
   * one-task inference job over that same footer. The schema is the one
   * that inference derives: the Spark schema the footer stores, else the
   * parquet schema converted under the session's SQL conf (files another
   * writer made, e.g. DuckDB).
   */
  private[graft] def readParquet(spark: SparkSession, paths: Path*): DataFrame = {
    val first = paths.iterator.flatMap(parquetFiles).nextOption().getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under ${paths.mkString(", ")}"))
    val schema = withFooter(spark.sessionState.newHadoopConf(), first)(r =>
      ParquetFileFormat.readSchemaFromFooter(new Footer(hadoopPath(first), r.getFooter),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    // spark.read globs its paths: escape the pattern characters so a
    // name holding `\`, `*`, `?`, `[` or `{` reads its own file or directory
    spark.read.schema(schema)
      .parquet(paths.map(_.toString.replaceAll("""([\\*?\[\]{}])""", """\\$1""")): _*)
  }

  /**
   * Snapshot diff (SURVEY §4: the reference's mtime-keyed parse cache →
   * content-hash diff): rows of `incoming` whose (key, content) pair is
   * NOT already in the CURRENT snapshot — an anti-join on
   * (key, xxhash64(content)), so unchanged rows are never re-processed
   * across runs. Returns all of `incoming` when the table doesn't exist.
   */
  def diffNew(spark: SparkSession, incoming: DataFrame, keyCol: String,
      contentCol: String, root: String, table: String): DataFrame = {
    if (currentManifest(root, table).isEmpty) return incoming
    val existing = read(spark, root, table)
      .select(col(keyCol).as("__k"), xxhash64(col(contentCol)).as("__h")).distinct()
    incoming.join(existing,
      incoming(keyCol) === col("__k") && xxhash64(incoming(contentCol)) === col("__h"),
      "left_anti")
  }

  /**
   * Snapshot-to-snapshot diff — the time-travel audit / CDC-lite read
   * (Iceberg's changelog-scan analogue): what changed between two
   * committed snapshots of the same table. Rows are identified by
   * (key, content hash): a key whose content changed between the
   * snapshots appears ONCE as `removed` (old hash) and ONCE as `added`
   * (new hash); pure inserts/deletes appear once. For the append-only
   * wave tables this catalog writes, a child-vs-parent diff is exactly
   * the child's new waves and `removed` is empty; `compact`'s rewrite
   * preserves content, so a pre-vs-post-compaction diff is EMPTY — both
   * invariants pinned in SnapshotCatalogSpec.
   *
   * One grouped symmetric difference: both sides are projected to
   * (key, hash, side -1 from / +1 to) AT THE SCAN and unioned; a
   * (key, hash) group seen on one side only is `added` (+1) or
   * `removed` (-1) — one exchange, no checkpoint, distinct or join. A
   * NULL key or hash also groups by side, so it never matches the other
   * side (the anti-join rule). A snapshot with no data dirs contributes
   * no rows. Re-join payloads by key from whichever snapshot you need
   * them. The content hash is the PORTABLE
   * md5-52 ([[graft.operators.Sketches.portableHash52]]) so the q124
   * oracle replays the diff bit-for-bit — 52 bits means ~10^-9 pair
   * collision odds at a million changed rows per key-space, and a
   * collision only suppresses one changed row from the report, never
   * corrupts the table.
   *
   * @return (key, content_hash, change ∈ {'added','removed'}), distinct
   */
  def diffSnapshots(spark: SparkSession, root: String, table: String,
      fromId: Long, toId: Long, keyCol: String, contentCol: String): DataFrame = {
    val (key, hash, side) = (col("key"), col("content_hash"), col("__side"))
    val sides = Seq(fromId -> -1, toId -> 1).map { case (id, s) => manifestAt(root, table, id) -> s }
      .collect { case (m, s) if m.dataDirs.nonEmpty =>
        readManifest(spark, root, m).select(col(keyCol).as("key"),
          graft.operators.Sketches.portableHash52(col(contentCol)).as("content_hash"),
          lit(s).as("__side"))
      }
    if (sides.isEmpty) // no data file on either side records the key's type
      spark.emptyDataFrame.select(lit(null).as("key"),
        lit(null).cast("long").as("content_hash"), lit(null).cast("string").as("change"))
    else sides.reduce(_ unionByName _)
      .groupBy(key, hash, when(key.isNull || hash.isNull, side).as("__unmatched"))
      .agg(min(side).as("__lo"), max(side).as("__hi"))
      .where(col("__lo") === col("__hi"))
      .select(key, hash, when(col("__hi") === 1, "added").otherwise("removed").as("change"))
  }

  /** All lineage rows visible from a manifest (read from its sidecars —
   * immutable, so any historical snapshot's lineage stays readable). */
  def lineageRows(root: String, m: Manifest): Seq[LineageRow] =
    m.lineageFiles.flatMap { f =>
      parseLineage(Files.readAllBytes(tableDir(root, m.table).resolve(f)))
    }

  /** Lineage rows of the CURRENT snapshot as a DataFrame. */
  def lineage(spark: SparkSession, root: String, table: String): DataFrame = {
    import spark.implicits._
    currentManifest(root, table).map(lineageRows(root, _)).getOrElse(Nil).toDF()
  }

  /** Write this commit's lineage sidecar; returns the manifest-relative
   * file name (no file is written for an empty row set). */
  private def writeLineageSidecar(root: String, table: String,
      snapId: Long, rows: Seq[LineageRow]): Option[String] = {
    if (rows.isEmpty) return None
    val name = s"lineage-$snapId.json"
    val dir = tableDir(root, table)
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), renderLineage(rows))
    Some(name)
  }

  /** What [[vacuum]] removed. */
  final case class VacuumStats(manifests: Int, lineageFiles: Int, dataDirs: Int)

  /**
   * Storage hygiene (Iceberg expire-snapshots + remove-orphans analogue,
   * from scratch): keep the newest `keepLast` manifests (always including
   * CURRENT), delete older manifests and any lineage sidecar no kept
   * manifest references, and delete DATA directories no kept manifest
   * references. Because `dataDirs` accumulates down the manifest chain,
   * data referenced by a kept snapshot is never touched — what actually
   * gets reclaimed is ORPHANS: `data/snap-*` dirs written by a run that
   * crashed before its commit, and `data/run-*` single-pass staging from
   * a crashed pass (a full staged copy of every wave — the big leak at
   * 100 TB). Time travel to expired snapshot ids stops working; kept ids
   * (and their full lineage history) remain readable.
   *
   * Not safe concurrently with a writer on the SAME table (the writer may
   * have staged data not yet committed) — same caveat as Iceberg's
   * remove-orphans; run it between loads.
   */
  def vacuum(root: String, table: String, keepLast: Int = 2): VacuumStats = {
    require(keepLast >= 1)
    val dir = tableDir(root, table)
    val current = currentSnapshotId(root, table)
      .getOrElse(throw new IllegalStateException(s"no CURRENT snapshot for $table"))
    val allIds = {
      val stream = Files.list(dir)
      try stream.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("manifest-") && n.endsWith(".json") =>
          n.stripPrefix("manifest-").stripSuffix(".json").toLong }
        .toSeq.sorted
      finally stream.close()
    }
    val keptIds = (allIds.takeRight(keepLast) :+ current).distinct.toSet
    val kept = keptIds.toSeq.map(readManifestFile(dir, _))
    val keptData = kept.flatMap(_.dataDirs).toSet
    val keptLineage = kept.flatMap(_.lineageFiles).toSet

    var mDel = 0; var lDel = 0; var dDel = 0
    allIds.filterNot(keptIds).foreach { id =>
      Files.delete(dir.resolve(s"manifest-$id.json")); mDel += 1
    }
    // lineage sidecars no kept manifest references: since lineageFiles
    // accumulates down the chain, these can only be ORPHANS — a sidecar
    // written by a commit that crashed before its manifest rename
    val linOrphans = {
      val stream = Files.list(dir)
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("lineage-") && n.endsWith(".json") &&
          !keptLineage.contains(n)).toSeq
      finally stream.close()
    }
    linOrphans.foreach { n => Files.delete(dir.resolve(n)); lDel += 1 }
    val dataRoot = dir.resolve("data")
    if (Files.isDirectory(dataRoot)) {
      val top = { val s = Files.list(dataRoot); try s.iterator().asScala.toSeq finally s.close() }
      top.foreach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("snap-")) {
          if (!keptData.contains(s"data/$name")) { deleteTree(p); dDel += 1 }
        } else if (name.startsWith("run-") && Files.isDirectory(p)) {
          val kids = { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }
          val waveKids = kids.filter(_.getFileName.toString.startsWith("__wave="))
          waveKids.foreach { k =>
            if (!keptData.contains(s"data/$name/${k.getFileName}")) { deleteTree(k); dDel += 1 }
          }
          val left = { val s = Files.list(p); try s.iterator().asScala.toSeq finally s.close() }
          // staging root with no referenced wave dirs left → fully orphaned;
          // count it as a reclaimed dir only if no wave child was counted
          if (!left.exists(_.getFileName.toString.startsWith("__wave="))) {
            deleteTree(p)
            if (waveKids.isEmpty) dDel += 1
          }
        }
      }
    }
    VacuumStats(mDel, lDel, dDel)
  }

  /** What [[compact]] did. */
  final case class CompactStats(dirsBefore: Int, filesBefore: Int, filesAfter: Int, rows: Long)

  private def hadoopPath(p: Path) = new org.apache.hadoop.fs.Path(p.toUri)

  /** Applies `f` to one parquet file's footer reader — a driver-side
   * metadata read (no Spark job, no data pages). The read options carry
   * `conf`: opened without read options, a reader builds a fresh Hadoop
   * `Configuration`, which re-parses the XML defaults on every file. */
  private def withFooter[A](conf: Configuration, p: Path)(f: ParquetFileReader => A): A = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(hadoopPath(p), conf),
      HadoopReadOptions.builder(conf).build())
    try f(r) finally r.close()
  }

  private def footerRows(conf: Configuration, p: Path): Long =
    withFooter(conf, p)(_.getRecordCount)

  /** Per-file (pid, rows) for a just-written data dir, zero-row files
   * skipped (lineage rows exist exactly for partitions that hold data —
   * the same contract the former shape had). Replaces the read-back
   * Spark job (full scan + shuffle + collect PER COMMIT — at 64 waves
   * that was one extra pass over every written byte) with driver-side
   * footer metadata reads. */
  private def fileRows(spark: SparkSession, dir: Path): Seq[(Int, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    parquetFiles(dir).map(f => footerRows(conf, f))
      .zipWithIndex.collect { case (n, i) if n > 0 => (i, n) }
  }

  /** The parquet data files at `p` (a file, or a directory walked
   * recursively), sorted by path. Like Spark's file listing, it skips
   * names starting with `_` (unless they hold `=`, a partition directory)
   * or `.`, e.g. `_SUCCESS`, `_temporary/` and checksum files; a
   * directory named `*.parquet` is walked, never returned. */
  private[snap] def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
      val stream = Files.walk(p)
      try stream.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet") &&
          !p.relativize(f).iterator().asScala.exists(n => hidden(n.toString)))
        .toSeq.sortBy(_.toString)
      finally stream.close()
    }

  /**
   * Small-file compaction — the Iceberg rewrite-data-files analogue, from
   * scratch. A wave-committed table accumulates one data dir per commit;
   * at 64 waves × shuffle-partition files each, every subsequent read
   * pays per-file open/footer cost and the driver pays per-file planning
   * — the canonical small-files problem at 100 TB. Compaction rewrites
   * the CURRENT row set into ONE new immutable dir of `targetFiles`
   * files and commits it as a new snapshot referencing only that dir,
   * while history is preserved verbatim: `completedWaves` (the resume
   * key — re-running a committed wave stays a no-op), `rowsPerWave`,
   * lineage sidecars, and every older manifest (time travel to
   * pre-compaction snapshots still reads the original files until a
   * later [[vacuum]] expires them — which is when the old dirs' storage
   * is actually reclaimed).
   *
   * With `sortBy`, rows are range-partitioned then sorted on those
   * columns (Iceberg's sort-order rewrite): files carry disjoint min/max
   * ranges, so predicate pushdown prunes whole files on read — the same
   * layout win `operators/SpatialLayout` builds for cell ids.
   *
   * Crash-safe: data is fully written before the atomic CURRENT flip; a
   * crash mid-write leaves an orphan `data/snap-*` dir that [[vacuum]]
   * removes. Before the flip, rows are recounted from the written files
   * (parquet footer metadata — no data scan) and must equal the
   * manifest's committed total; a lost-row rewrite aborts loudly with
   * CURRENT untouched. Not safe concurrently with a writer on the same
   * table (same contract as [[vacuum]]).
   */
  def compact(spark: SparkSession, root: String, table: String,
      targetFiles: Int, sortBy: Seq[String] = Nil): CompactStats = {
    require(targetFiles >= 1, s"targetFiles must be >= 1 (got $targetFiles)")
    val m = currentManifest(root, table)
      .getOrElse(throw new IllegalStateException(s"no CURRENT snapshot for $table"))
    if (m.dataDirs.isEmpty) return CompactStats(0, 0, 0, 0L)
    val dir = tableDir(root, table)
    val filesBefore = m.dataDirs.map(d => parquetFiles(dir.resolve(d)).size).sum
    val df = readManifest(spark, root, m)
    val rewritten =
      if (sortBy.nonEmpty) {
        val cols = sortBy.map(col)
        df.repartitionByRange(targetFiles, cols: _*).sortWithinPartitions(cols: _*)
      } else df.repartition(targetFiles)
    val snapId = m.snapshotId + 1
    val dataDir = s"data/snap-$snapId"
    val target = dir.resolve(dataDir)
    rewritten.write.mode("overwrite").parquet(target.toString)
    // row-total proof from the written footers (metadata only — the
    // former spark.read.count() launched a full read-back job)
    val rows = {
      val conf = spark.sessionState.newHadoopConf()
      parquetFiles(target).map(f => footerRows(conf, f)).sum
    }
    val expected = m.rowsPerWave.values.sum
    require(rows == expected,
      s"compaction rewrote $rows rows but the manifest committed $expected " +
        s"— aborting, CURRENT unchanged (is a concurrent writer active, or a data file missing?)")
    commitManifest(root, table,
      m.copy(snapshotId = snapId, parentId = m.snapshotId, dataDirs = Seq(dataDir)))
    CompactStats(m.dataDirs.size, filesBefore, parquetFiles(target).size, rows)
  }

  /** Writes snapshot `snapId`'s lineage sidecar and returns the manifest
   * that commits `wave` on top of `prev` (None = the first snapshot): the
   * one place each chain field (waves, data dirs, rows per wave, lineage
   * sidecars) grows. `dataDir` is None for a wave that wrote no rows. */
  private def successor(root: String, table: String, prev: Option[Manifest],
      snapId: Long, wave: Int, dataDir: Option[String],
      perPart: Seq[LineageRow]): Manifest =
    Manifest(
      table = table,
      snapshotId = snapId,
      parentId = prev.map(_.snapshotId).getOrElse(-1L),
      completedWaves = (prev.map(_.completedWaves).getOrElse(Nil) :+ wave).sorted,
      dataDirs = prev.map(_.dataDirs).getOrElse(Nil) ++ dataDir,
      rowsPerWave = prev.map(_.rowsPerWave).getOrElse(Map.empty) +
        (wave -> perPart.map(_.outputRows).sum),
      lineageFiles = prev.map(_.lineageFiles).getOrElse(Nil) ++
        writeLineageSidecar(root, table, snapId, perPart))

  /**
   * Transform + write + commit ONE wave idempotently; returns false (and
   * does nothing) when the wave is already in the CURRENT manifest.
   * Shared by [[resumableRun]] (wave = deterministic hash bucket) and the
   * streaming sink (`SnapshotSink.snapshotSink`, wave = micro-batch
   * id — Structured Streaming replays a failed batch with the SAME id,
   * so this idempotence makes the sink commit exactly-once).
   */
  def commitWave(spark: SparkSession, waveIn: DataFrame, wave: Int,
      root: String, table: String)(transform: DataFrame => DataFrame): Boolean = {
    val prev = currentManifest(root, table)
    if (prev.exists(_.completedWaves.contains(wave))) return false
    val t0 = System.nanoTime()
    // observe(): the wave's input count rides the SAME job as the
    // write below — no separate count() pass over the input. (At 64
    // waves × 100 TB the old shape cost one extra full scan per wave.)
    // Name is time-suffixed: Observation names must not repeat across
    // the retries/streaming batches of one session.
    val obs = org.apache.spark.sql.Observation(s"${table}_wave_${wave}_$t0")
    val out = transform(waveIn.observe(obs, count(lit(1)).as("in_rows")))
    val snapId = prev.map(_.snapshotId + 1).getOrElse(0L)
    val dataDir = s"data/snap-$snapId"
    val target = tableDir(root, table).resolve(dataDir)
    out.write.mode("overwrite").parquet(target.toString)
    val wallMs = (System.nanoTime() - t0) / 1000000
    // per-partition lineage from the written files' parquet footers —
    // metadata only, no read-back job (guide §1: don't re-scan what you
    // just wrote to count it)
    val inRows = obs.get("in_rows").asInstanceOf[Long]
    val perPart = fileRows(spark, target)
      .map { case (pid, n) => LineageRow(wave, pid, inRows, n, wallMs) }
    commitManifest(root, table,
      successor(root, table, prev, snapId, wave, Some(dataDir), perPart))
    true
  }

  /**
   * Resumable wave-partitioned run — the north rule's checkpoint/resume.
   *
   * The input is split into `waves` deterministic buckets by
   * pmod(xxhash64(key), waves). Each wave: transform → write an immutable
   * data dir → commit a new snapshot whose manifest marks the wave
   * completed and carries per-partition lineage. A re-run (after a crash
   * or a kill) skips every wave already in the CURRENT manifest — the
   * anti-join of SURVEY §2.7 done on metadata, not data.
   *
   * @return the number of waves actually executed this run
   */
  def resumableRun(
      spark: SparkSession,
      input: DataFrame,
      keyCol: String,
      waves: Int,
      root: String,
      table: String)(transform: DataFrame => DataFrame): Int =
    resumableRunBy(spark, input, pmod(xxhash64(col(keyCol)), lit(waves)), waves,
      root, table)(transform)

  /** [[resumableRun]] with a caller-supplied wave expression (values must
   * be deterministic in row content and in [0, waves) — the same
   * retry-safety contract as the default xxhash64 bucketing; e.g. an
   * md5-derived bucket when downstream tooling must recompute the split).
   *
   * Each wave commits `input.where(waveCol === w)`: nothing is cached, so
   * a parquet input is re-read once per wave but only in the columns
   * `transform` uses (column pruning), and the wave expression runs in
   * that scan's codegen stage. A caller whose input has an expensive
   * upstream plan persists it first (and unpersists it after), or uses
   * [[resumableRunSinglePass]], which scans the input once. */
  def resumableRunBy(
      spark: SparkSession,
      input: DataFrame,
      waveCol: Column,
      waves: Int,
      root: String,
      table: String)(transform: DataFrame => DataFrame): Int =
    (0 until waves).count { w =>
      commitWave(spark, input.where(waveCol === w), w, root, table)(transform)
    }

  /**
   * Single-pass variant of [[resumableRunBy]] for ROW-LOCAL transforms:
   * ONE scan of the input writes every wave at once via
   * `partitionBy(__wave)`, then each wave's directory is committed as its
   * own snapshot (manifest chain identical to the per-wave path). At 64
   * waves over 100 TB the per-wave path scans the input 64×, in 64 write
   * jobs; this is one scan and one job.
   *
   * Contract: `waveCol` as in [[resumableRunBy]]; `transform` receives
   * the input WITH a `__wave` column and must preserve it (it is consumed
   * as the partition key and not written into data files). Trade-off vs
   * the per-wave path: commit granularity here is the whole pass — a
   * crash mid-write loses all in-flight waves (rerun redoes the single
   * pass); once ANY wave is committed, the method falls back to
   * [[resumableRunBy]] with the same wave column for the remainder, so
   * resume still works at wave granularity across runs.
   *
   * @return number of waves committed this run
   */
  def resumableRunSinglePass(
      spark: SparkSession,
      input: DataFrame,
      waveCol: Column,
      waves: Int,
      root: String,
      table: String)(transform: DataFrame => DataFrame): Int = {
    val done = currentManifest(root, table).map(_.completedWaves.toSet).getOrElse(Set.empty)
    if (done.nonEmpty)
      return resumableRunBy(spark, input, waveCol, waves, root, table)(
        df => transform(df.withColumn("__wave", waveCol.cast("int"))).drop("__wave"))
    val t0 = System.nanoTime()
    // per-wave input counts ride the one job (observe, no extra scans)
    val obs = org.apache.spark.sql.Observation(s"${table}_singlepass_$t0")
    val waveCounts = (0 until waves).map(w =>
      sum(when(col("__wave") === w, 1L).otherwise(0L)).as(s"in_$w"))
    val withWave = input
      .withColumn("__wave", waveCol.cast("int"))
      .observe(obs, waveCounts.head, waveCounts.tail: _*)
    val out = transform(withWave)
    require(out.columns.contains("__wave"),
      "single-pass transform must preserve the __wave column")
    val stage = s"data/run-${System.nanoTime()}"
    val stageDir = tableDir(root, table).resolve(stage)
    out.write.mode("overwrite").partitionBy("__wave").parquet(stageDir.toString)
    val wallMs = (System.nanoTime() - t0) / 1000000
    val inRows = obs.get
    // commit each wave's directory in wave order (same manifest chain
    // shape as the per-wave path; lineage from the written files)
    (0 until waves).foreach { w =>
      val waveDirPath = stageDir.resolve(s"__wave=$w")
      val written = Files.exists(waveDirPath) // an empty wave writes no dir
      val perPart =
        if (!written) Seq.empty[LineageRow]
        else fileRows(spark, waveDirPath).map { case (pid, n) =>
          LineageRow(w, pid, inRows(s"in_$w").asInstanceOf[Long], n, wallMs) }
      val prev = currentManifest(root, table)
      val snapId = prev.map(_.snapshotId + 1).getOrElse(0L)
      commitManifest(root, table, successor(root, table, prev, snapId, w,
        Some(s"$stage/__wave=$w").filter(_ => written), perPart))
    }
    waves
  }

  /** [[resumableRunSinglePass]] over [[resumableRun]]'s
   * pmod(xxhash64(keyCol), waves) buckets. */
  def resumableRunSinglePass(
      spark: SparkSession,
      input: DataFrame,
      keyCol: String,
      waves: Int,
      root: String,
      table: String)(transform: DataFrame => DataFrame): Int =
    resumableRunSinglePass(spark, input, pmod(xxhash64(col(keyCol)), lit(waves)), waves,
      root, table)(transform)
}
