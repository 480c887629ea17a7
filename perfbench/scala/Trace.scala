package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One timed call into a layer, recorded from the benchmark's side of the
 * call. `parent` is the id of the enclosing span (-1 at the top). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept only while `enabled`; the
 * untraced passes run through the same calls with recording off. Single
 * threaded: every call it wraps is issued by the driver thread. */
final class Tracer {
  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, layer, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Span duration minus the part covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
    s.seconds - kids
  }

  /** Summed self time per layer. */
  def selfByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfSeconds).sum }

  /** Total duration of every span called `name` (summed over passes). */
  def totalOf(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum
}

/** One traced pass: its time, GC and wall-clock bounds, and the scheduler
 * counts the listener filled in. */
final class PassStats {
  var seconds = 0.0
  val fromMs: Long = System.currentTimeMillis()
  var toMs = 0L
  private val (gc0, gcMs0) = PassStats.gcTotals()
  var gcCount = 0L
  var gcMs = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakBlockBytes = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  // (stage wall ms, task durations) of every completed stage
  val stageTasks = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  val stageWall = scala.collection.mutable.Map.empty[(Int, Int), Long]

  /** Marks the end of the pass; listener events may still arrive. */
  def finish(): Unit = {
    toMs = System.currentTimeMillis()
    val (c, t) = PassStats.gcTotals()
    gcCount = c - gc0; gcMs = t - gcMs0
  }

  /** Pass wall time (ms) during which no job was running. */
  def driverGapMs: Long = {
    var covered = 0L
    var end = fromMs
    jobSpans.sortBy(_._1).foreach { case (s0, e0) =>
      val s = math.max(s0, end); val e = math.min(e0, toMs)
      if (e > s) { covered += e - s; end = e }
    }
    (toMs - fromMs) - covered
  }

  /** Slowest ÷ median task duration in the longest stage that ran more
   * than one task (1 when there is none). */
  def taskSkew: Double = {
    val multi = stageWall.filter { case (k, _) => stageTasks.get(k).exists(_.length > 1) }
    if (multi.isEmpty) 1.0
    else {
      val ds = stageTasks(multi.maxBy(_._2)._1).sorted
      math.max(ds.last, 1L).toDouble / math.max(ds(ds.length / 2), 1L)
    }
  }
}

object PassStats {
  def gcTotals(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }
}

/** Listener the benchmark registers in traced runs. Events count toward
 * `current` only while a pass is open; RDD-block bytes are tracked for the
 * whole session so the peak is right even for blocks a pass inherits. */
final class SchedulerProbe extends SparkListener {
  @volatile var current: PassStats = null
  private val blockBytes = scala.collection.mutable.Map.empty[String, Long]
  private var liveBlockBytes = 0L

  private def on(f: PassStats => Unit): Unit = synchronized {
    val p = current
    if (p != null) f(p)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = on { p =>
    p.jobs += 1; p.jobSpans += ((e.time, Long.MaxValue))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = on { p =>
    // close the earliest still-open interval (jobs of one pass are serial)
    val i = p.jobSpans.indexWhere(_._2 == Long.MaxValue)
    if (i >= 0) p.jobSpans(i) = (p.jobSpans(i)._1, e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on { p =>
    val si = e.stageInfo
    p.stages += 1
    val wall = for (s <- si.submissionTime; c <- si.completionTime) yield c - s
    p.stageWall((si.stageId, si.attemptNumber())) = wall.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on { p =>
    p.tasks += 1
    val d = e.taskInfo.duration
    p.taskMs += d
    p.stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) += d
    val m = e.taskMetrics
    if (m != null) {
      p.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      p.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = b.memSize + b.diskSize
      val before = blockBytes.getOrElse(b.blockId.name, 0L)
      if (now == 0) blockBytes.remove(b.blockId.name) else blockBytes(b.blockId.name) = now
      liveBlockBytes += now - before
      val p = current
      if (p != null) p.peakBlockBytes = math.max(p.peakBlockBytes, liveBlockBytes)
    }
  }

  def open(): PassStats = synchronized {
    val p = new PassStats
    p.peakBlockBytes = liveBlockBytes
    current = p
    p
  }
  def close(): Unit = synchronized { current = null }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
