package graft.core

import graft.SparkSpec
import graft.tools.RunRecorder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions._

class PinSpec extends SparkSpec {

  private def base: DataFrame = spark.range(100000).toDF("id")
    .select(col("id"), (col("id") % 97).as("k"))

  /** Spark jobs started by `body`, read off a window of the recorder. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val rec = new RunRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      rec.drain(sc)
      rec.reset()
      val r = body
      rec.drain(sc)
      (r, rec.jobs.size)
    } finally sc.removeSparkListener(rec)
  }

  private def hasCollectMetrics(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst { case c: CollectMetrics => c }.nonEmpty

  behavior of "Pin.counted"

  it should "observe the same count as count() for one Spark job" in {
    val ((pinned, n), jobs) = jobsOf(Pin.counted(base))
    jobs shouldBe 1
    n shouldBe base.count()
    n shouldBe 100000L
    // a separate count of the pin pays its own job(s): under AQE its
    // aggregate runs a shuffle-map job before the result job
    val (m, countJobs) = jobsOf(pinned.count())
    m shouldBe n
    countJobs should be >= 1
  }

  it should "keep the pinned relation's columns with no CollectMetrics node downstream" in {
    val (pinned, _) = Pin.counted(base)
    pinned.columns.toSeq shouldBe Seq("id", "k")
    hasCollectMetrics(base.observe(org.apache.spark.sql.Observation(),
      count(lit(1)).as("n"))) shouldBe true
    hasCollectMetrics(pinned) shouldBe false
    hasCollectMetrics(pinned.filter(col("k") < 50).groupBy("k").count()) shouldBe false
  }

  it should "count chained pins and an empty relation" in {
    // the shingleBanded shape: a pin derived from a pin, both counted
    val (sh, n1) = Pin.counted(base)
    val (banded, n2) = Pin.counted(sh.filter(col("k") < 50))
    n1 shouldBe 100000L
    n2 shouldBe base.filter(col("k") < 50).count()
    banded.count() shouldBe n2
    val (empty, n0) = Pin.counted(base.filter(col("id") < 0))
    n0 shouldBe 0L
    empty.isEmpty shouldBe true
  }
}
