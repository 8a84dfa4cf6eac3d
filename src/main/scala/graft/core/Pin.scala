package graft.core

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The one pin-and-count of the engine. */
object Pin {

  /** Eagerly pin `df` (localCheckpoint: executor-local blocks the
    * ContextCleaner reclaims once the pinned relation is unreachable)
    * and return it with its row count. The count rides the pin's own
    * materialization job as an observed metric, so pin plus count costs
    * one Spark job, not two. The pinned relation carries `df`'s columns
    * and no CollectMetrics node into downstream plans. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val pinned = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (pinned, obs.get("n").asInstanceOf[Long])
  }
}
