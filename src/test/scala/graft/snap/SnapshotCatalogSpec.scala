package graft.snap

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession
import graft.operators.JobCount

class SnapshotCatalogSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(): String =
    tempDir("graft_snap")

  private def input = (0L until 1000L).map(i => (i, s"u$i", i % 7)).toDF("id", "url", "v")

  test("commit + read round trip with atomic CURRENT pointer") {
    val root = freshRoot()
    val ran = SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "t1")(
      df => df.withColumn("out", col("v") * 2))
    assert(ran == 4)
    val back = SnapshotCatalog.read(spark, root, "t1")
    assert(back.count() == 1000)
    assert(back.where(col("out") =!= col("v") * 2).count() == 0)
    assert(SnapshotCatalog.currentSnapshotId(root, "t1").contains(3L))
    // time travel: snapshot 0 holds exactly wave 0's rows
    val asOf0 = SnapshotCatalog.readAt(spark, root, "t1", 0L)
    val wave0Rows = SnapshotCatalog.currentManifest(root, "t1").get.rowsPerWave(0)
    assert(asOf0.count() == wave0Rows && wave0Rows > 0)
  }

  test("diffSnapshots: child-vs-parent = the new wave; self-diff and compaction diffs are empty") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 3, root, "td")(
      df => df.select(col("url"), col("v").cast("string").as("content")))
    val cur = SnapshotCatalog.currentManifest(root, "td").get
    // append-only: diff(parent, current) = exactly the last wave's rows, all 'added'
    val d = SnapshotCatalog.diffSnapshots(spark, root, "td",
      cur.parentId, cur.snapshotId, "url", "content")
    val added = d.where(col("change") === "added").count()
    assert(added == cur.rowsPerWave(2) && added > 0)
    assert(d.where(col("change") === "removed").count() == 0)
    // the added key set IS the last wave's key set
    val lastWaveKeys = SnapshotCatalog.readAt(spark, root, "td", cur.snapshotId)
      .select("url").as[String].collect().toSet --
      SnapshotCatalog.readAt(spark, root, "td", cur.parentId)
        .select("url").as[String].collect().toSet
    assert(d.where(col("change") === "added").select("key").as[String].collect().toSet
      == lastWaveKeys)
    // child -> parent: every new row as 'removed'
    val back = assertDiffMatchesReference(root, "td", cur.snapshotId, cur.parentId, "url", "content")
    assert(back.size.toLong == cur.rowsPerWave(2) && back.keys.forall(_.getString(2) == "removed"))
    // self-diff is empty
    assert(SnapshotCatalog.diffSnapshots(spark, root, "td",
      cur.snapshotId, cur.snapshotId, "url", "content").count() == 0)
    // compaction rewrites files but preserves content: diff pre-vs-post is empty
    val preId = cur.snapshotId
    SnapshotCatalog.compact(spark, root, "td", targetFiles = 1)
    val postId = SnapshotCatalog.currentSnapshotId(root, "td").get
    assert(postId != preId)
    assert(SnapshotCatalog.diffSnapshots(spark, root, "td",
      preId, postId, "url", "content").count() == 0)
  }

  /** The former diffSnapshots, kept as the reference: each side's
   * distinct (key, hash) set, then one anti-join per direction (a NULL
   * key or hash never matches). */
  private def referenceDiff(root: String, table: String, fromId: Long, toId: Long,
      keyCol: String, contentCol: String): DataFrame = {
    def keyed(id: Long): DataFrame = SnapshotCatalog.readAt(spark, root, table, id)
      .select(col(keyCol).as("key"),
        graft.operators.Sketches.portableHash52(col(contentCol)).as("content_hash"))
      .distinct()
    val from = keyed(fromId)
    val to = keyed(toId)
    to.join(from, Seq("key", "content_hash"), "left_anti")
      .withColumn("change", lit("added"))
      .unionByName(
        from.join(to, Seq("key", "content_hash"), "left_anti")
          .withColumn("change", lit("removed")))
  }

  private def rowSet(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def assertDiffMatchesReference(root: String, table: String, fromId: Long, toId: Long,
      keyCol: String, contentCol: String): Map[Row, Int] = {
    val got = rowSet(SnapshotCatalog.diffSnapshots(spark, root, table, fromId, toId, keyCol, contentCol))
    val want = rowSet(referenceDiff(root, table, fromId, toId, keyCol, contentCol))
    assert(got == want, s"diff($fromId, $toId) of $table")
    assert(got.values.forall(_ == 1), s"diff($fromId, $toId) of $table repeats a row")
    got
  }

  /** Commits each frame as snapshot i of `table`, reading only its own data dir. */
  private def commitSnapshots(root: String, table: String, snaps: Seq[DataFrame]): Unit =
    snaps.zipWithIndex.foreach { case (df, i) =>
      val dir = s"data/snap-$i"
      df.write.parquet(java.nio.file.Paths.get(root, table, dir).toString)
      SnapshotCatalog.commitManifest(root, table, SnapshotCatalog.Manifest(
        table, i.toLong, i - 1L, Seq(i), Seq(dir), Map(i -> 0L), Nil))
    }

  test("diffSnapshots matches the distinct + anti-join reference: NULLs, duplicates, changed content") {
    val root = freshRoot()
    val from = Seq[(Option[Long], Option[String])]((Some(1L), Some("a")), (Some(1L), Some("a")),
      (Some(2L), Some("b")), (None, Some("c")), (Some(3L), None), (Some(4L), Some("x")), (None, None))
    val to = Seq[(Option[Long], Option[String])]((Some(1L), Some("a")), (Some(2L), Some("B")),
      (None, Some("c")), (Some(3L), None), (Some(5L), Some("y")), (Some(5L), Some("y")))
    commitSnapshots(root, "tn", Seq(from.toDF("k", "content"), to.toDF("k", "content")))
    val d = assertDiffMatchesReference(root, "tn", 0L, 1L, "k", "content")
    def keys(change: String) = d.keys.toSeq.filter(_.getString(2) == change)
      .map(r => Option(r.get(0))).sortBy(_.toString)
    // a NULL key or hash never matches: (NULL, c) and (3, NULL) sit on both sides
    assert(keys("added") == Seq(None, Some(2L), Some(3L), Some(5L)).sortBy(_.toString))
    assert(keys("removed") == Seq(None, None, Some(2L), Some(3L), Some(4L)).sortBy(_.toString))
    assertDiffMatchesReference(root, "tn", 1L, 0L, "k", "content")
    assertDiffMatchesReference(root, "tn", 0L, 0L, "k", "content")

    // seeded random pairs: rows kept, re-contented, dropped or new, with
    // NULL keys and contents and duplicate rows on either side
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def row(): (Option[Long], Option[String]) = (
        if (rnd.nextDouble() < 0.15) None else Some(rnd.nextInt(8).toLong),
        if (rnd.nextDouble() < 0.15) None else Some(Seq("a", "b", "c", "d")(rnd.nextInt(4))))
      val a = Seq.fill(rnd.nextInt(25))(row())
      val b = a.flatMap { r =>
        rnd.nextInt(5) match {
          case 0 => Nil
          case 1 => Seq(r.copy(_2 = Some("z")))
          case 2 => Seq(r, r)
          case _ => Seq(r)
        }
      } ++ Seq.fill(rnd.nextInt(6))(row())
      val table = s"tr$seed"
      commitSnapshots(root, table, Seq(a.toDF("k", "content"), b.toDF("k", "content")))
      assertDiffMatchesReference(root, table, 0L, 1L, "k", "content")
      assertDiffMatchesReference(root, table, 1L, 0L, "k", "content")
    }

  }

  test("diffSnapshots: a snapshot with no data dirs contributes no rows") {
    val root = freshRoot()
    // three keys that all fall in wave 1 of 2: the single pass commits
    // wave 0 as a snapshot without a data dir
    val keys = (0 until 64).map(i => s"k$i").toDF("url")
      .where(pmod(xxhash64(col("url")), lit(2)) === 1).as[String].collect().take(3)
    val rows = keys.map(k => (k, s"c$k")).toSeq.toDF("url", "content")
    assert(SnapshotCatalog.resumableRunSinglePass(spark, rows, "url", waves = 2, root, "te")(
      identity[DataFrame]) == 2)
    assert(SnapshotCatalog.currentManifest(root, "te").get.dataDirs.size == 1)
    def diff(from: Long, to: Long) =
      SnapshotCatalog.diffSnapshots(spark, root, "te", from, to, "url", "content")
        .collect().map(r => r.getString(0) -> r.getString(2)).toSet
    assert(diff(0L, 1L) == keys.map(_ -> "added").toSet)
    assert(diff(1L, 0L) == keys.map(_ -> "removed").toSet)
    assert(diff(0L, 0L).isEmpty)
  }

  test("resumableRunBy filters the input per wave: transform sees the input's columns") {
    val root = freshRoot()
    val wave = pmod(conv(substring(md5(col("url")), 1, 8), 16, 10).cast("long"), lit(3))
    var seen = Seq.empty[Seq[String]]
    val ran = SnapshotCatalog.resumableRunBy(spark, input, wave, 3, root, "tb") { df =>
      seen :+= df.columns.toSeq; df
    }
    assert(ran == 3)
    assert(seen == Seq.fill(3)(input.columns.toSeq))
    assert(SnapshotCatalog.read(spark, root, "tb").columns.toSeq == input.columns.toSeq)
    // per-wave output rows and lineage input rows are the wave expression's split
    val split = input.groupBy(wave.as("w")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    val m = SnapshotCatalog.currentManifest(root, "tb").get
    assert(m.rowsPerWave == split)
    assert(SnapshotCatalog.lineageRows(root, m).map(l => l.wave -> l.inputRows).distinct.toMap
      == split)
    // an input column named __wave is ordinary data: it round-trips unchanged
    val withWave = input.withColumn("__wave", col("v") + 100)
    val rootW = freshRoot()
    assert(SnapshotCatalog.resumableRunBy(spark, withWave, wave, 3, rootW, "tw")(
      identity[DataFrame]) == 3)
    assert(rowSet(SnapshotCatalog.read(spark, rootW, "tw")) == rowSet(withWave))
  }

  test("resume: a rerun skips completed waves; partial run completes to the same result") {
    val root = freshRoot()
    // simulate a crash after 2 of 6 waves: run a transform that THROWS on
    // wave 3's data the first time
    var crashed = false
    try {
      SnapshotCatalog.resumableRun(spark, input, "url", waves = 6, root, "t2") { df =>
        val m = SnapshotCatalog.currentManifest(root, "t2")
        if (m.exists(_.completedWaves.size == 2)) throw new RuntimeException("injected crash")
        df.withColumn("out", col("v") + 1)
      }
    } catch { case e: RuntimeException if e.getMessage == "injected crash" => crashed = true }
    assert(crashed)
    val doneAfterCrash = SnapshotCatalog.currentManifest(root, "t2").get.completedWaves
    assert(doneAfterCrash.size == 2)

    // rerun: only the remaining waves execute
    val ran = SnapshotCatalog.resumableRun(spark, input, "url", waves = 6, root, "t2")(
      df => df.withColumn("out", col("v") + 1))
    assert(ran == 4)
    val back = SnapshotCatalog.read(spark, root, "t2")
    assert(back.count() == 1000)
    assert(back.select("id").distinct().count() == 1000)
    // idempotent: another rerun is a no-op
    assert(SnapshotCatalog.resumableRun(spark, input, "url", waves = 6, root, "t2")(
      df => df.withColumn("out", col("v") + 1)) == 0)
  }

  test("single-pass run commits the same snapshot chain as the per-wave path") {
    val rootA = freshRoot(); val rootB = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, rootA, "t")(
      df => df.withColumn("out", col("v") * 2))
    val ran = SnapshotCatalog.resumableRunSinglePass(spark, input, "url", waves = 4, rootB, "t")(
      df => df.withColumn("out", col("v") * 2))
    assert(ran == 4)
    val a = SnapshotCatalog.read(spark, rootA, "t")
    val b = SnapshotCatalog.read(spark, rootB, "t")
    assert(b.count() == 1000)
    assert(a.select("id", "out").exceptAll(b.select("id", "out")).count() == 0)
    assert(b.select("id", "out").exceptAll(a.select("id", "out")).count() == 0)
    // same wave bucketing and per-wave rows + input counts
    val mA = SnapshotCatalog.currentManifest(rootA, "t").get
    val mB = SnapshotCatalog.currentManifest(rootB, "t").get
    assert(mA.rowsPerWave == mB.rowsPerWave)
    assert(mB.completedWaves == Seq(0, 1, 2, 3))
    def inByWave(root: String, m: SnapshotCatalog.Manifest) =
      SnapshotCatalog.lineageRows(root, m).map(l => l.wave -> l.inputRows).distinct.toMap
    assert(inByWave(rootA, mA) == inByWave(rootB, mB))
    // rerun is a no-op; partially-done tables fall back to per-wave
    assert(SnapshotCatalog.resumableRunSinglePass(spark, input, "url", 4, rootB, "t")(
      df => df.withColumn("out", col("v") * 2)) == 0)
  }

  test("single pass over an md5 wave column commits resumableRunBy's chain") {
    val wave = pmod(conv(substring(md5(col("url")), 1, 8), 16, 10).cast("long"), lit(4))
    val rootA = freshRoot(); val rootB = freshRoot(); val rootC = freshRoot()
    assert(SnapshotCatalog.resumableRunBy(spark, input, wave, 4, rootA, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"))) == 4)
    assert(SnapshotCatalog.resumableRunSinglePass(spark, input, wave, 4, rootB, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"), col("__wave"))) == 4)
    // partly committed: wave 0 alone, then the single pass falls back to
    // resumableRunBy over the same column for waves 1-3
    assert(SnapshotCatalog.commitWave(spark, input.where(wave === 0), 0, rootC, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"))))
    assert(SnapshotCatalog.resumableRunSinglePass(spark, input, wave, 4, rootC, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"), col("__wave"))) == 3)
    val split = input.groupBy(wave.as("w")).count().collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    assert(split.size == 4)
    def inByWave(root: String, m: SnapshotCatalog.Manifest) =
      SnapshotCatalog.lineageRows(root, m).map(l => l.wave -> l.inputRows).distinct.toMap
    val want = rowSet(SnapshotCatalog.read(spark, rootA, "t"))
    assert(want == rowSet(input.select(col("id"), (col("v") * 2).as("out"))))
    for (root <- Seq(rootA, rootB, rootC)) {
      val m = SnapshotCatalog.currentManifest(root, "t").get
      assert(rowSet(SnapshotCatalog.read(spark, root, "t")) == want, root)
      assert(m.snapshotId == 3L && m.completedWaves == Seq(0, 1, 2, 3), root)
      assert(m.rowsPerWave == split, root)
      assert(inByWave(root, m) == split, root)
      // each snapshot in the chain holds exactly the waves committed so far
      for (id <- 0L to 3L)
        assert(SnapshotCatalog.readAt(spark, root, "t", id).count() ==
          (0 to id.toInt).map(split).sum, s"$root@$id")
    }
    // a rerun of either path is a no-op
    assert(SnapshotCatalog.resumableRunSinglePass(spark, input, wave, 4, rootB, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"), col("__wave"))) == 0)
    assert(SnapshotCatalog.resumableRunSinglePass(spark, input, wave, 4, rootC, "t")(
      df => df.select(col("id"), (col("v") * 2).as("out"), col("__wave"))) == 0)
    assert(SnapshotCatalog.currentSnapshotId(rootB, "t").contains(3L))
  }

  test("parquetFiles lists data files only, sorted by path") {
    val root = java.nio.file.Paths.get(freshRoot())
    // a Spark-written table directory named *.parquet, with _SUCCESS and .crc files
    input.repartition(3).write.parquet(root.resolve("t.parquet").toString)
    Files.createDirectories(root.resolve("_temporary/0"))
    Files.write(root.resolve("_temporary/0/part-x.parquet"), Array[Byte](1))
    Files.createDirectories(root.resolve("__wave=0"))
    Files.write(root.resolve("__wave=0/part-w.parquet"), Array[Byte](1))
    val files = SnapshotCatalog.parquetFiles(root)
    val names = files.map(root.relativize(_).toString)
    assert(names.size == 4, names)
    assert(names.head == "__wave=0/part-w.parquet", names)
    assert(names.tail.forall(n => n.startsWith("t.parquet/part-") && n.endsWith(".parquet")), names)
    assert(files == files.sortBy(_.toString))
    assert(files.forall(Files.isRegularFile(_)))
    // a single file lists as itself
    assert(SnapshotCatalog.parquetFiles(files.last) == Seq(files.last))
  }

  test("diffNew: only changed/new rows survive the content-hash anti-join") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 2, root, "t4")(identity[org.apache.spark.sql.DataFrame])
    // same content → empty diff
    assert(SnapshotCatalog.diffNew(spark, input, "url", "v", root, "t4").count() == 0)
    // 10 changed rows + 5 new rows → 15
    val changed = input.withColumn("v", when(col("id") < 10, col("v") + 100).otherwise(col("v")))
    val newRows = (1000L until 1005L).map(i => (i, s"u$i", i % 7)).toDF("id", "url", "v")
    assert(SnapshotCatalog.diffNew(spark, changed.union(newRows), "url", "v", root, "t4").count() == 15)
    // nonexistent table → everything is new
    assert(SnapshotCatalog.diffNew(spark, input, "url", "v", root, "nope").count() == 1000)
  }

  test("lineage rows carry per-partition counters") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 2, root, "t3")(identity[org.apache.spark.sql.DataFrame])
    val lin = SnapshotCatalog.lineage(spark, root, "t3")
    assert(lin.columns.toSet == Set("wave", "partitionId", "inputRows", "outputRows", "wallMs"))
    val byWave = lin.groupBy("wave").agg(sum("outputRows").as("out")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byWave.values.sum == 1000)
    assert(byWave.keySet == Set(0, 1))
    // input rows recorded per wave match output for the identity transform
    val inByWave = lin.select("wave", "inputRows").distinct().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(inByWave == byWave)
  }

  test("vacuum keeps CURRENT + history depth, reclaims orphans, preserves data and lineage") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "t6")(
      df => df.withColumn("out", col("v") + 1))
    val dir = java.nio.file.Paths.get(root, "t6")
    // plant orphans: an uncommitted snap dir and a crashed single-pass stage
    Files.createDirectories(dir.resolve("data/snap-99"))
    Files.write(dir.resolve("data/snap-99/part-0.parquet"), Array[Byte](1, 2))
    Files.createDirectories(dir.resolve("data/run-777/__wave=0"))
    Files.write(dir.resolve("data/run-777/__wave=0/p.parquet"), Array[Byte](3))
    Files.write(dir.resolve("data/run-777/_SUCCESS"), Array.empty[Byte])

    val before = SnapshotCatalog.read(spark, root, "t6").collect().toSet
    val stats = SnapshotCatalog.vacuum(root, "t6", keepLast = 2)
    // manifests 0,1 expired; snap-99 + run-777 stage reclaimed; committed
    // data dirs are all referenced by the kept manifests → untouched
    assert(stats.manifests == 2, stats)
    assert(stats.dataDirs == 2, stats)
    assert(!Files.exists(dir.resolve("data/snap-99")))
    assert(!Files.exists(dir.resolve("data/run-777")))
    assert(SnapshotCatalog.read(spark, root, "t6").collect().toSet == before)
    // time travel: kept ids readable, expired ids gone
    assert(SnapshotCatalog.readAt(spark, root, "t6", 3L).count() > 0)
    assert(SnapshotCatalog.readAt(spark, root, "t6", 2L).count() > 0)
    intercept[IllegalArgumentException](SnapshotCatalog.readAt(spark, root, "t6", 0L))
    // full lineage history still visible from CURRENT (sidecars retained)
    assert(SnapshotCatalog.lineage(spark, root, "t6")
      .select("wave").distinct().count() == 4)
    // resume bookkeeping unaffected: a rerun has nothing to do
    val rerun = SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "t6")(
      df => df.withColumn("out", col("v") + 1))
    assert(rerun == 0)
  }

  test("manifest bytes stay O(waves) at 64 waves; vacuum keeps deep time travel") {
    val root = freshRoot()
    val docs = (0L until 256L).map(i => (i, s"u$i", i)).toDF("id", "url", "v")
    SnapshotCatalog.resumableRun(spark, docs, "url", waves = 64, root, "t64")(
      identity[org.apache.spark.sql.DataFrame])
    val dir = java.nio.file.Paths.get(root, "t64")
    val sizes = (0 until 64).map(id => Files.size(dir.resolve(s"manifest-$id.json")))
    // growth per wave is the bookkeeping only (wave id in three lists/maps
    // + a sidecar filename ≈ tens of bytes) — the O(waves²) inline-lineage
    // shape this guards against grew by a full lineage copy per commit
    val perWave = (sizes.last - sizes.head).toDouble / 63
    assert(perWave < 120, s"manifest grows $perWave B/wave")
    assert(sizes.last < 16 * 1024, s"64-wave manifest is ${sizes.last} B")
    // hash-wave assignment can leave a few waves empty at 256 keys —
    // lineage rows exist exactly for waves that processed data
    val nonEmptyWaves = SnapshotCatalog.currentManifest(root, "t64").get
      .rowsPerWave.count(_._2 > 0)
    val stats = SnapshotCatalog.vacuum(root, "t64", keepLast = 8)
    assert(stats.manifests == 56, stats)
    // kept ids stay time-travelable; expired ids fail loudly; the FULL
    // 64-wave lineage history survives via sidecars
    assert(SnapshotCatalog.readAt(spark, root, "t64", 63L).count() == 256)
    assert(SnapshotCatalog.readAt(spark, root, "t64", 56L).count() > 0)
    intercept[IllegalArgumentException](SnapshotCatalog.readAt(spark, root, "t64", 55L))
    assert(SnapshotCatalog.lineage(spark, root, "t64")
      .select("wave").distinct().count() == nonEmptyWaves)
  }

  test("lineage lives in per-commit sidecars; manifests stay O(waves)") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "t5")(identity[org.apache.spark.sql.DataFrame])
    val dir = java.nio.file.Paths.get(root, "t5")
    // one sidecar per commit, each holding ONLY its own wave's rows
    val m = SnapshotCatalog.currentManifest(root, "t5").get
    assert(m.lineageFiles == (0 to 3).map(i => s"lineage-$i.json"))
    val perFileWaves = m.lineageFiles.map { f =>
      val rows = SnapshotCatalog.lineageRows(root, m.copy(lineageFiles = Seq(f)))
      rows.map(_.wave).distinct
    }
    assert(perFileWaves.forall(_.size == 1))
    // no inline lineage rows in any manifest (the O(waves^2) shape)
    (0 to 3).foreach { id =>
      val txt = new String(Files.readAllBytes(dir.resolve(s"manifest-$id.json")), "UTF-8")
      assert(!txt.contains("input_rows"), s"manifest-$id carries inline lineage")
    }
    // historical snapshots still expose their lineage prefix
    val m1 = SnapshotCatalog.readAt(spark, root, "t5", 1L) // readable
    assert(m1.count() > 0)
    val hist = SnapshotCatalog.lineageRows(root,
      m.copy(lineageFiles = Seq("lineage-0.json", "lineage-1.json")))
    assert(hist.map(_.wave).distinct.sorted == Seq(0, 1))
  }

  // ----- compact (rewrite-data-files) -----

  test("compact merges wave dirs into few files; rows, history, resume and time travel survive") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "tc")(
      df => df.repartition(8).withColumn("out", col("v") * 3))
    val rowsBefore = SnapshotCatalog.read(spark, root, "tc")
      .collect().map(_.toSeq).toSet
    val preId = SnapshotCatalog.currentSnapshotId(root, "tc").get
    val mBefore = SnapshotCatalog.currentManifest(root, "tc").get
    val stats = SnapshotCatalog.compact(spark, root, "tc", targetFiles = 2)
    assert(stats.dirsBefore == 4 && stats.filesBefore >= 8)
    assert(stats.filesAfter <= 2 && stats.rows == 1000)
    val mAfter = SnapshotCatalog.currentManifest(root, "tc").get
    assert(mAfter.snapshotId == preId + 1 && mAfter.parentId == preId)
    assert(mAfter.dataDirs == Seq(s"data/snap-${preId + 1}"))
    assert(mAfter.completedWaves == mBefore.completedWaves)
    assert(mAfter.rowsPerWave == mBefore.rowsPerWave)
    assert(mAfter.lineageFiles == mBefore.lineageFiles)
    assert(SnapshotCatalog.read(spark, root, "tc")
      .collect().map(_.toSeq).toSet == rowsBefore)
    // time travel to the pre-compaction snapshot still reads the old files
    assert(SnapshotCatalog.readAt(spark, root, "tc", preId).count() == 1000)
    // resume key intact: a full rerun is still a no-op...
    assert(SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "tc")(
      df => df.repartition(8).withColumn("out", col("v") * 3)) == 0)
    // ...and a genuinely new wave appends alongside the compacted dir
    assert(SnapshotCatalog.commitWave(spark, input.limit(5), 9, root, "tc")(
      df => df.withColumn("out", col("v") * 3)))
    assert(SnapshotCatalog.read(spark, root, "tc").count() == 1005)
    assert(SnapshotCatalog.currentManifest(root, "tc").get.dataDirs.size == 2)
  }

  test("sorted compaction writes range-disjoint files (file-pruning layout)") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "tsort")(
      df => df)
    val stats = SnapshotCatalog.compact(spark, root, "tsort",
      targetFiles = 4, sortBy = Seq("id"))
    assert(stats.filesAfter == 4 && stats.rows == 1000)
    val m = SnapshotCatalog.currentManifest(root, "tsort").get
    val files = SnapshotCatalog.parquetFiles(
      java.nio.file.Paths.get(root, "tsort").resolve(m.dataDirs.head))
    assert(files.size == 4)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f.toString).agg(min("id"), max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi < lo, s"overlapping file ranges: $ranges")
      case _ =>
    }
  }

  test("vacuum after compaction reclaims the pre-compaction wave dirs") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 4, root, "tvac")(
      df => df)
    SnapshotCatalog.compact(spark, root, "tvac", targetFiles = 2)
    val stats = SnapshotCatalog.vacuum(root, "tvac", keepLast = 1)
    assert(stats.dataDirs == 4) // the four pre-compaction wave dirs
    assert(SnapshotCatalog.read(spark, root, "tvac").count() == 1000)
  }

  test("snapshot reads take the footer schema: inference's schema, no job to build") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 3, root, "ts")(
      df => df.select(col("id"), col("url"), (col("v") * 1.5).as("d"), lit(1).as("one")))
    // single pass: the data dirs are the __wave= partitions of one staging dir
    SnapshotCatalog.resumableRunSinglePass(spark, input, "url", waves = 3, root, "tp")(
      df => df.withColumn("out", col("v") * 2))
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 3, root, "tc")(identity[DataFrame])
    SnapshotCatalog.compact(spark, root, "tc", targetFiles = 2)
    def inferred(table: String, dirs: Seq[String]): DataFrame =
      spark.read.parquet(dirs.map(d => java.nio.file.Paths.get(root, table, d).toString): _*)
    for (table <- Seq("ts", "tp", "tc")) {
      val m = SnapshotCatalog.currentManifest(root, table).get
      val (cur, jobs) = JobCount(spark)(SnapshotCatalog.read(spark, root, table))
      assert(jobs == 0, table)
      assert(cur.schema == inferred(table, m.dataDirs).schema, table)
      assert(rowSet(cur) == rowSet(inferred(table, m.dataDirs)), table)
    }
    val m = SnapshotCatalog.currentManifest(root, "ts").get
    val (at0, atJobs) = JobCount(spark)(SnapshotCatalog.readAt(spark, root, "ts", 0L))
    assert(atJobs == 0)
    assert(at0.schema == inferred("ts", m.dataDirs.take(1)).schema)
    val (d, diffJobs) = JobCount(spark)(SnapshotCatalog.diffSnapshots(spark, root, "ts",
      m.parentId, m.snapshotId, "id", "url"))
    assert(diffJobs == 0)
    assert(d.count() == m.rowsPerWave(2))
  }

  test("a manifest whose files lack Spark's schema entry reads through inference") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val root = freshRoot()
    val dir = java.nio.file.Paths.get(root, "tx", "data/snap-0")
    Files.createDirectories(dir)
    val file = new org.apache.hadoop.fs.Path(dir.resolve("part-0.parquet").toUri)
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional binary s (UTF8); }")
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i => w.write(groups.newGroup().append("k", i.toLong).append("s", s"v$i")))
    finally w.close()
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, spark.sessionState.newHadoopConf()))
    try assert(!footer.getFooter.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.sql.parquet.row.metadata"))
    finally footer.close()
    SnapshotCatalog.commitManifest(root, "tx", SnapshotCatalog.Manifest(
      "tx", 0L, -1L, Seq(0), Seq("data/snap-0"), Map(0 -> 5L), Nil))
    val back = SnapshotCatalog.read(spark, root, "tx")
    assert(back.schema == spark.read.parquet(dir.toString).schema)
    assert(back.as[(Long, String)].collect().sorted.toSeq == (0 until 5).map(i => (i.toLong, s"v$i")))
  }

  test("table names with a quote, a backslash or a tab round-trip through the manifest") {
    val root = freshRoot()
    Seq("quo\"te", "back\\slash", "tab\there", "plain").foreach { table =>
      SnapshotCatalog.resumableRun(spark, input, "url", waves = 2, root, table)(df => df)
      val m = SnapshotCatalog.currentManifest(root, table).get
      assert(m.table == table)
      assert(SnapshotCatalog.read(spark, root, table).count() == 1000)
      assert(SnapshotCatalog.readAt(spark, root, table, 0L).count() == m.rowsPerWave(0))
      assert(SnapshotCatalog.lineageRows(root, m).map(_.outputRows).sum == 1000)
      SnapshotCatalog.compact(spark, root, table, targetFiles = 1)
      assert(SnapshotCatalog.currentManifest(root, table).get ==
        m.copy(snapshotId = 2L, parentId = 1L, dataDirs = Seq("data/snap-2")))
      assert(SnapshotCatalog.read(spark, root, table).count() == 1000)
    }
    assert(SnapshotCatalog.listTables(root) ==
      Seq("back\\slash", "plain", "quo\"te", "tab\there").sorted)
  }

  test("a manifest and lineage sidecar in the earlier hand-rendered layout still read") {
    val root = freshRoot()
    val table = "old\"lay\\out\tname"
    val dir = java.nio.file.Paths.get(root, table)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "url").write.parquet(dir.resolve("data/snap-0").toString)
    Seq((4L, "d")).toDF("id", "url").write.parquet(dir.resolve("data/snap-1").toString)
    // the bytes the earlier renderer wrote: newline-separated fields,
    // `"key": n` rows, a control character as a four-hex-digit escape
    Files.write(dir.resolve("manifest-1.json"),
      ("{\"table\":\"old\\\"lay\\\\out\\u0009name\",\"snapshot_id\":1,\"parent_id\":0,\n" +
        "\"completed_waves\":[0,1],\n" +
        "\"data_dirs\":[\"data/snap-0\",\"data/snap-1\"],\n" +
        "\"rows_per_wave\":{\"0\": 3,\"1\": 1},\n" +
        "\"lineage_files\":[\"lineage-1.json\"]}").getBytes("UTF-8"))
    Files.write(dir.resolve("lineage-1.json"),
      ("[{\"wave\":0,\"partition_id\":0,\"input_rows\":3,\"output_rows\":3,\"wall_ms\":7}," +
        "{\"wave\":1,\"partition_id\":2,\"input_rows\":1,\"output_rows\":1,\"wall_ms\":4}]")
        .getBytes("UTF-8"))
    Files.write(dir.resolve("CURRENT"), "1".getBytes("UTF-8"))
    val m = SnapshotCatalog.currentManifest(root, table).get
    assert(m == SnapshotCatalog.Manifest(table, 1L, 0L, Seq(0, 1),
      Seq("data/snap-0", "data/snap-1"), Map(0 -> 3L, 1 -> 1L), Seq("lineage-1.json")))
    assert(SnapshotCatalog.lineageRows(root, m) == Seq(
      SnapshotCatalog.LineageRow(0, 0, 3L, 3L, 7L), SnapshotCatalog.LineageRow(1, 2, 1L, 1L, 4L)))
    assert(SnapshotCatalog.read(spark, root, table).as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    // the next commit writes the new layout on top of the old chain
    SnapshotCatalog.compact(spark, root, table, targetFiles = 1)
    assert(SnapshotCatalog.currentManifest(root, table).get ==
      m.copy(snapshotId = 2L, parentId = 1L, dataDirs = Seq("data/snap-2")))
    assert(SnapshotCatalog.readAt(spark, root, table, 1L).count() == 4)
  }

  test("compact aborts with CURRENT untouched when rows would be lost") {
    val root = freshRoot()
    SnapshotCatalog.resumableRun(spark, input, "url", waves = 2, root, "tbad")(
      df => df)
    val preId = SnapshotCatalog.currentSnapshotId(root, "tbad").get
    val m = SnapshotCatalog.currentManifest(root, "tbad").get
    // simulate storage damage: remove one committed data file
    val victim = SnapshotCatalog.parquetFiles(
      java.nio.file.Paths.get(root, "tbad").resolve(m.dataDirs.head)).head
    Files.delete(victim)
    val e = intercept[IllegalArgumentException](
      SnapshotCatalog.compact(spark, root, "tbad", targetFiles = 1))
    assert(e.getMessage.contains("aborting"))
    assert(SnapshotCatalog.currentSnapshotId(root, "tbad").contains(preId))
  }
}
