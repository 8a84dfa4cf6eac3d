package graft.tools

import graft.SparkSpec
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}

class RunRecorderSpec extends SparkSpec {

  behavior of "RunRecorder"

  it should "cover the union of finished job intervals, once per overlap" in {
    val rec = new RunRecorder
    def job(id: Int, start: Long, end: Long): Unit = {
      rec.onJobStart(SparkListenerJobStart(id, start, Seq.empty))
      if (end > 0) rec.onJobEnd(SparkListenerJobEnd(id, end, JobSucceeded))
    }
    job(1, 100L, 200L)
    job(2, 150L, 300L) // overlaps job 1: [100, 300]
    job(3, 400L, 450L)
    job(4, 500L, -1L) // still running: not scheduled time yet
    rec.jobSpanCoveredMs shouldBe 250L
    rec.jobs(4).endMs shouldBe -1L
    rec.reset()
    rec.jobs shouldBe empty
    rec.jobSpanCoveredMs shouldBe 0L
  }

  it should "record a real job's stages and successful tasks" in {
    val rec = new RunRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      rec.drain(sc)
      rec.reset()
      val t0 = System.currentTimeMillis()
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k").distinct().count()
      val wallMs = System.currentTimeMillis() - t0
      rec.drain(sc)
      rec.jobs should not be empty
      rec.jobs.values.foreach(_.endMs should be > 0L)
      rec.jobSpanCoveredMs should be <= wallMs
      // the 4-partition scan stage ran all four of its tasks
      val ran = rec.stages.values.map(_.taskTimes).filter(_.nonEmpty)
      ran.map(_.length) should contain(4)
      ran.flatten.foreach { case (dur, launch) =>
        dur should be >= 0L
        launch should be >= t0
      }
      rec.stages.values.filter(_.taskTimes.nonEmpty).foreach(_.spanMs should be >= 0L)
    } finally sc.removeSparkListener(rec)
  }

  it should "name AQE stage jobs by their query's call site, not Spark's pool" in {
    val rec = new RunRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      spark.conf.get("spark.sql.adaptive.enabled") shouldBe "true"
      rec.drain(sc)
      rec.reset()
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 as k", "id as v")
        .groupBy("k").sum("v").collect()
      rec.drain(sc)
      // the shuffle map stage runs as its own job, submitted from the pool
      rec.jobs.size should be >= 2
      rec.jobs.values.map(_.site) ++ rec.stages.values.map(_.name) foreach { site =>
        site should not include RunRecorder.PoolFrame
        site should include("RunRecorderSpec.scala")
      }
    } finally sc.removeSparkListener(rec)
  }
}
