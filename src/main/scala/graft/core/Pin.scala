package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}

/** The one way the engine pins a relation, and the lifetime of its pins.
  *
  * A pin is an eager `localCheckpoint`: executor-local blocks owned by
  * the checkpointed RDD. Outside a [[scope]] a pin lives until the
  * ContextCleaner reclaims it after a driver GC finds the pinned relation
  * unreachable. Inside a scope the pin's RDD id is also recorded, and the
  * scope releases every recorded pin still persisted when it exits. The
  * id, not the RDD, is kept, so a pin the body drops (a loop's dead
  * round) stays reclaimable by the ContextCleaner before the scope ends. */
object Pin {

  /** The RDD ids of the pins made inside one [[scope]]. */
  final class Scope private[Pin] (private[Pin] val ids: ConcurrentLinkedQueue[Integer])

  private val active = new ThreadLocal[Scope]

  /** This thread's scope, for handing to [[within]] on a worker thread. */
  def current: Option[Scope] = Option(active.get)

  /** Run `body` on this thread with `s` as its scope, restoring the
    * thread's own scope after: pins a concurrent leg makes are then
    * released with the scope of the thread that started the leg. */
  def within[T](s: Option[Scope])(body: => T): T = {
    val prev = active.get
    active.set(s.orNull)
    try body finally active.set(prev)
  }

  /** Run `body` and then unpersist, without blocking, every pin made
    * inside it (on this thread or on a leg run [[within]] its scope) that
    * is still persisted, whether `body` returns or throws. `body` must
    * finish all work over its pins before it returns: a lazy result over
    * a released pin fails when it is later computed. */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val s = new Scope(new ConcurrentLinkedQueue[Integer]())
    try within(Some(s))(body)
    finally {
      val live = spark.sparkContext.getPersistentRDDs
      s.ids.forEach(id => live.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  /** Eagerly pin `df` and record the pin in the enclosing scope, if any. */
  def eager(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint(true)
    current.foreach(s => pinned.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }.foreach(id => s.ids.add(id)))
    pinned
  }

  /** [[eager]] that also returns the pinned relation's row count. The
    * count rides the pin's own materialization job as an observed metric,
    * so pin plus count costs one Spark job, not two. The pinned relation
    * carries `df`'s columns and no CollectMetrics node into downstream
    * plans. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = eager(df.observe(obs, count(lit(1)).as("n")))
    (pinned, obs.get("n").asInstanceOf[Long])
  }
}
