package graft.snap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/**
 * The streaming face of [[SnapshotCatalog]]: a Structured-Streaming sink
 * that commits each micro-batch as one snapshot wave, exactly once, so a
 * stream lands in the same resumable snapshot sets a batch run writes.
 */
object SnapshotSink {

  /** The streaming checkpoint's durable query id: StreamExecution writes
   * `<ckpt>/metadata` = {"id": "<uuid>"} when a query FIRST starts on a
   * checkpoint and rereads it on every restart — so the id survives
   * restarts of the same checkpoint and a recreated/foreign checkpoint
   * gets a fresh one. That is exactly the identity that separates a
   * genuine replay from a different stream aimed at the same table. */
  private def checkpointQueryId(spark: SparkSession, checkpointLocation: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointLocation, "metadata")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    "\"id\"\\s*:\\s*\"([0-9a-fA-F-]+)\"".r.findFirstMatchIn(text)
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no query id in checkpoint metadata at $p: $text"))
  }

  /**
   * Streaming → snapshot-table sink: every micro-batch commits as ONE
   * snapshot wave (wave id = batch id) via
   * [[graft.snap.SnapshotCatalog.commitWave]]. End-to-end exactly-once:
   * the stream's checkpoint replays a failed batch with the SAME id, and
   * commitWave is idempotent per wave id, so a replayed batch is a no-op
   * — the classic idempotent-sink construction. The committed table gets
   * the full snapshot surface: time travel, per-batch lineage rows,
   * `vacuum`.
   *
   * OWNERSHIP: the table's STREAMING_SINK marker records the OWNING
   * checkpoint's query id ([[checkpointQueryId]]). Every batch requires
   * the marker to match — so a FRESH checkpoint (whose batch ids restart
   * at 0) pointed at a previously-written table fails loudly instead of
   * having its batches silently swallowed by wave-id idempotence, even
   * in the single-wave case where the old latest-wave-only heuristic
   * accepted batch 0 as a "replay" and dropped its rows.
   *
   * Caller starts it (the sink sets checkpointLocation itself — the
   * identity guard needs to know where the checkpoint lives):
   * {{{
   * SnapshotSink.snapshotSink(df, root, "pages_clean", ckpt)(_.select(...))
   *   .trigger(Trigger.AvailableNow()).start()
   * }}}
   */
  def snapshotSink(stream: DataFrame, root: String, table: String,
      checkpointLocation: String)(
      transform: DataFrame => DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        require(batchId <= Int.MaxValue, s"batch id $batchId exceeds wave id range")
        val queryId = checkpointQueryId(batch.sparkSession, checkpointLocation)
        // a table previously written by a BATCH run would alias its wave ids
        // with our batch ids — committing would silently drop micro-batches
        // (commitWave no-ops on a committed id). The marker pins the table
        // to ONE streaming checkpoint; anything else is a config error.
        val marker = java.nio.file.Paths.get(root, table, "STREAMING_SINK")
        val hasCurrent = SnapshotCatalog.currentSnapshotId(root, table).isDefined
        def verifyOwner(): Unit = {
          val owner = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
          if (owner != queryId)
            throw new IllegalStateException(
              s"table '$table' is owned by streaming checkpoint $owner but this " +
                s"stream's checkpoint is $queryId — a fresh/foreign checkpoint's " +
                "batch ids would collide with committed waves and be dropped " +
                "silently (resume the original checkpoint or write to a fresh table)")
        }
        if (!java.nio.file.Files.exists(marker)) {
          if (hasCurrent)
            throw new IllegalStateException(
              s"table '$table' was not written by snapshotSink: batch-run wave ids " +
                "would collide with micro-batch ids (write to a fresh table)")
          java.nio.file.Files.createDirectories(marker.getParent)
          // CREATE_NEW makes ownership claiming ATOMIC: two fresh streams
          // racing on a fresh table both see "no marker", but exactly one
          // write wins; the loser re-reads and fails the owner check
          // instead of having its batch 0 silently absorbed as a "replay"
          try java.nio.file.Files.write(marker, queryId.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW)
          catch { case _: java.nio.file.FileAlreadyExistsException => verifyOwner() }
        } else verifyOwner()
        val committed = SnapshotCatalog.commitWave(
          batch.sparkSession, batch.toDF(), batchId.toInt, root, table)(transform)
        if (!committed) {
          // identity matched, so this IS our table: an already-committed id
          // can only be the monotone latest wave replayed after a failure
          // between commit and checkpoint advance. Anything else means
          // manifest surgery — fail rather than lose the batch silently.
          val maxWave = SnapshotCatalog.currentManifest(root, table)
            .map(_.completedWaves.max).getOrElse(-1)
          require(batchId.toInt == maxWave,
            s"batch $batchId already committed but is not the latest wave " +
              s"($maxWave) — manifest/checkpoint mismatch for table '$table'")
        }
        ()
      }
}
