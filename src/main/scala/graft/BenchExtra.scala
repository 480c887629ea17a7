package graft

/**
 * Round-7 optimization harness (guide §1.4): time individual SparkEntry
 * queries in isolation with the SAME session config and consumption
 * protocol as the frozen [[Bench]] per-query sweep (noop write +
 * checkpoint-block release inside the timed region), without paying the
 * full 125-query sweep per measurement.
 *
 * Args: <q1,q2,...|all> [reps]
 * Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
 *       SPARK_GRAFT_CPUS (default 32),
 *       GRAFT_PLAN_OUT — if set, write each query's explain("formatted")
 *       to $GRAFT_PLAN_OUT/<name>.txt (plan evidence for plans/r07/).
 *
 * Output: one line per rep, `EXTRA <name> rep=<r> sec=<t>` (or
 * `rep=<r> FAILED: <error>`), plus a final `EXTRA <name> min=<t>` per
 * query over the reps that succeeded — `min=FAILED` when none did — and
 * `LEAK <name> rdds=<n> mb=<x>` when blocks the query created remain in
 * storage after its results were released. No JSON — the JSON artifact
 * comes from [[Bench]] alone.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = if (args.length > 1) args(1).toInt else 3
    val names =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val planOut = sys.env.get("GRAFT_PLAN_OUT")
    val s = BenchSession(cpus, "graft-bench-extra", "WARN",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC")
    // GRAFT_JOBLOG=1: print every Spark job's wall time + description —
    // the guide-§1 empirical view (which job eats the query) without the UI
    if (sys.env.contains("GRAFT_JOBLOG")) {
      val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = t0.remove(j.jobId)
          if (st != null) println(
            f"JOB ${j.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = for {a <- i.completionTime; b <- i.submissionTime} yield (a - b) / 1e3
          val cpu = i.taskMetrics.executorRunTime / 1e3
          if (wall.exists(_ > 0.05)) {
            println(
              f"  STAGE ${i.stageId}%4d wall=${wall.get}%6.3f taskSum=${cpu}%7.3f tasks=${i.numTasks}%3d  ${i.name.takeWhile(_ != '\n')}")
            if (i.numTasks == 1 && wall.exists(_ > 0.1))
              i.details.linesIterator.filter(_.contains("graft")).take(4)
                .foreach(l => println(s"      at $l"))
          }
        }
      })
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val before = org.apache.spark.sql.GraftBridge.storedRddBytes(s.sparkContext).keySet
      planOut.foreach { dir =>
        var df: org.apache.spark.sql.DataFrame = null
        try {
          df = fn(s, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan.getBytes("UTF-8"))
        } finally if (df != null)
          org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
      }
      // a rep that throws is reported and left out of the min
      val times = (1 to reps).flatMap { r =>
        s.sparkContext.setJobDescription(s"extra:$name rep$r")
        val t0 = System.nanoTime()
        var df: org.apache.spark.sql.DataFrame = null
        try {
          df = fn(s, sfDir)
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"EXTRA $name rep=$r sec=$dt%.3f")
          Some(dt)
        } catch { case e: Throwable =>
          println(s"EXTRA $name rep=$r FAILED: $e")
          None
        } finally if (df != null)
          org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
      }
      if (times.nonEmpty) println(f"EXTRA $name min=${times.min}%.3f")
      else if (reps > 0) println(s"EXTRA $name min=FAILED")
      val left = org.apache.spark.sql.GraftBridge.storedRddBytes(s.sparkContext) -- before
      if (left.nonEmpty)
        println(f"LEAK $name rdds=${left.size} mb=${left.values.sum / 1e6}%.3f")
    }
    s.stop()
  }
}
