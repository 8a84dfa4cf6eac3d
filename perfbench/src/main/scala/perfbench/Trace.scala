package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** A timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (-1 for a root); every span of one run shares `runId`. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startMs: Long, endMs: Long,
                      counters: Map[String, Double] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spark execution counters over a window of the run: the layer-3 numbers
  * (jobs, stages, tasks, task time, shuffle and spill bytes, input
  * records, cached bytes) and the driver-only time (window wall minus the
  * union of job intervals). */
final case class SparkCounters(jobs: Int, stages: Int, tasks: Int,
                               taskSecondsSum: Double, taskSkew: Double,
                               shuffleReadBytes: Long, shuffleWriteBytes: Long,
                               spillBytes: Long, inputRecords: Long,
                               cachedBytesPeak: Long, driverOnlySeconds: Double) {
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_s_sum" -> taskSecondsSum, "task_skew" -> taskSkew,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "input_records" -> inputRecords.toDouble,
    "cached_bytes_peak" -> cachedBytesPeak.toDouble,
    "driver_only_s" -> driverOnlySeconds)
}

/** The benchmark's own SparkListener. Events are kept in memory with their
  * wall-clock times; [[window]] folds the ones that fall inside an interval
  * into [[SparkCounters]]. Attached only in traced runs. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private final case class TaskRec(endMs: Long, seconds: Double, shuffleRead: Long,
                                   shuffleWrite: Long, spill: Long, records: Long)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageEnds = mutable.ArrayBuffer.empty[Long]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val cachedNow = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageEnds += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.taskInfo.finishTime, e.taskInfo.duration / 1e3,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.recordsRead)
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      cachedBytes -= cachedNow.remove(key).getOrElse(0L)
      if (info.storageLevel.isValid) {
        val size = info.memSize + info.diskSize
        cachedNow(key) = size
        cachedBytes += size
      }
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
  }

  /** Restart the cached-bytes peak from the bytes cached now. */
  def resetCachePeak(): Unit = synchronized { cachedPeak = cachedBytes }

  /** Counters of the events inside `intervals` (disjoint, e.g. the CLI
    * spans of a pass; checks between them are excluded). */
  def window(intervals: Seq[(Long, Long)]): SparkCounters = synchronized {
    val in = (t: Long) => intervals.exists { case (s, e) => t >= s && t <= e }
    val js = jobs.filter { case (s, e) => intervals.exists { case (a, b) => s >= a && e <= b } }
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    js.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    val ts = tasks.filter(t => in(t.endMs))
    val durs = ts.map(_.seconds).sorted
    val median = if (durs.isEmpty) 0.0 else durs(durs.size / 2)
    SparkCounters(
      jobs = js.size,
      stages = stageEnds.count(in),
      tasks = ts.size,
      taskSecondsSum = durs.sum,
      taskSkew = if (median > 0) durs.last / median else 1.0,
      shuffleReadBytes = ts.map(_.shuffleRead).sum,
      shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum,
      inputRecords = ts.map(_.records).sum,
      cachedBytesPeak = cachedPeak,
      driverOnlySeconds = (intervals.map { case (s, e) => e - s }.sum - covered) / 1e3)
  }
}

/** Spans of one run, kept in memory and written once at the end. A
  * disabled tracer times its spans but keeps none. */
final class Tracer(val runId: String, enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  /** Time `body` as a span nested under the innermost open span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = System.currentTimeMillis()
    try {
      val r = body
      val s = Span(id, name, parent, runId, start, System.currentTimeMillis())
      if (enabled) synchronized(spans += s)
      (r, s)
    } finally stack = stack.tail
  }

  /** Attach counters to a recorded span. */
  def annotate(s: Span, counters: Map[String, Double]): Unit = synchronized {
    val i = spans.indexWhere(_.id == s.id)
    if (i >= 0) spans(i) = spans(i).copy(counters = spans(i).counters ++ counters)
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  def writeJson(path: String): Unit = {
    val body = all.map { s =>
      val cs = s.counters.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run_id":${Json.str(s.runId)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"counters":{$cs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}
