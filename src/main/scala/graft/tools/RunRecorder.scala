package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** The one SparkListener of the measurement harnesses (ScaleR19,
  * ProfGates). Per measurement window it keeps every job's interval,
  * call site and stage ids, and per stage its name, call-site details,
  * submit/complete times, each successful task's (duration, launch
  * time) in millis and the input records its tasks read. Harnesses derive their own readings from it (task
  * skew, the driver-only gap, per-job and per-stage spans) after
  * [[drain]]; [[reset]] opens the next window.
  *
  * Events arrive on the listener-bus thread. A stage is registered when
  * its job starts or when it is submitted, so a task of a stage from an
  * earlier window is dropped rather than misattributed to this one.
  *
  * A stage's name and details are its call site. Spark submits some
  * stages from its own pool (AQE query stages, broadcasts, subqueries),
  * and their call site is the pool's frame, which names no operator;
  * such a stage takes the call site of the SQL execution it belongs to,
  * found through its job's `spark.sql.execution.id`.
  */
final class RunRecorder extends SparkListener {
  import RunRecorder.{Job, PoolFrame, Stage}

  val jobs: TrieMap[Int, Job] = TrieMap.empty
  val stages: TrieMap[Int, Stage] = TrieMap.empty

  /** (short, long) call site of each running SQL execution, by id. */
  private val sqlSites: TrieMap[String, (String, String)] = TrieMap.empty

  private def stageOf(si: StageInfo, exec: Option[(String, String)] = None): Stage =
    stages.getOrElseUpdate(si.stageId, {
      val (name, details) = exec.filter(_ => si.name.contains(PoolFrame))
        .getOrElse((si.name, si.details))
      new Stage(si.stageId, name, details)
    })

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlSites(s.executionId.toString) = (s.description, s.details)
    case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId.toString)
    case _ =>
  }

  /** A job is named by its final stage, as Spark's UI names it. */
  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).flatMap(sqlSites.get)
    val planned = j.stageInfos.sortBy(_.stageId).map(stageOf(_, exec))
    val site = planned.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
    jobs(j.jobId) = Job(j.time, -1L, site, planned.map(_.id))
  }
  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    jobs.get(j.jobId).foreach(r => jobs(j.jobId) = r.copy(endMs = j.time))
  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    stageOf(s.stageInfo).submitMs = s.stageInfo.submissionTime.getOrElse(-1L)
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    stages.get(s.stageInfo.stageId)
      .foreach(_.doneMs = s.stageInfo.completionTime.getOrElse(-1L))
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskInfo != null && t.taskInfo.successful)
      stages.get(t.stageId).foreach(_.add(t.taskInfo.duration, t.taskInfo.launchTime,
        Option(t.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)))

  def reset(): Unit = { jobs.clear(); stages.clear() }

  /** Millis covered by the union of the finished jobs' intervals: the
    * scheduled part of a window. The rest of its wall is driver-only
    * (planning, collects, file IO). */
  def jobSpanCoveredMs: Long = {
    val iv = jobs.values.toSeq.filter(_.endMs > 0)
      .map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (curE < 0) { curS = s; curE = e }
      else if (s <= curE) curE = math.max(curE, e)
      else { covered += curE - curS; curS = s; curE = e }
    }
    if (curE > 0) covered += curE - curS
    covered
  }

  /** Block until the listener bus has delivered every posted event, so
    * the final tasks of a window land in it and not in the next one.
    * The bus is private Spark API, reached by reflection; if its
    * internals move this falls back to a fixed beat. */
  def drain(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
    } catch { case _: Throwable => Thread.sleep(800) }
}

object RunRecorder {

  /** The call-site frame of every stage Spark submits from its own pool. */
  val PoolFrame = "withThreadLocalCaptured"

  /** A job's interval (`endMs` is -1 until it ends), its call site (its
    * final stage's name) and the ids of every stage it planned, skipped
    * ones included. */
  final case class Job(startMs: Long, endMs: Long, site: String, stageIds: Seq[Int])

  final class Stage(val id: Int, val name: String, val details: String) {
    @volatile var submitMs: Long = -1L
    @volatile var doneMs: Long = -1L
    private val tasks = ArrayBuffer.empty[(Long, Long)]
    private var records = 0L
    private[RunRecorder] def add(durationMs: Long, launchMs: Long,
                                 recordsRead: Long): Unit =
      tasks.synchronized { tasks += ((durationMs, launchMs)); records += recordsRead }
    /** Successful tasks as (duration, launch time), snapshotted under the
      * lock the bus thread appends under. */
    def taskTimes: Array[(Long, Long)] = tasks.synchronized(tasks.toArray)
    /** Records the successful tasks read from their input (scans). */
    def inputRecords: Long = tasks.synchronized(records)
    def spanMs: Long = if (submitMs > 0 && doneMs > 0) doneMs - submitMs else -1L
  }
}
