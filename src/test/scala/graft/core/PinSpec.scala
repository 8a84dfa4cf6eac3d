package graft.core

import graft.SparkSpec
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions._

class PinSpec extends SparkSpec {

  private def base: DataFrame = spark.range(100000).toDF("id")
    .select(col("id"), (col("id") % 97).as("k"))

  /** The id of the RDD holding `pinned`'s blocks. */
  private def rddId(pinned: DataFrame): Int =
    pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

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

  behavior of "Pin.scope"

  it should "leave a pin made outside any scope persisted" in {
    val pinned = Pin.eager(base)
    persisted(rddId(pinned)) shouldBe true
    spark.sparkContext.getPersistentRDDs(rddId(pinned)).unpersist(blocking = true)
  }

  it should "release only its own pins on each of two threads" in {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val bothPinned = new CountDownLatch(2)
    val aClosed = new CountDownLatch(1)
    @volatile var pinnedA: DataFrame = null
    // A pins, waits until B has pinned too, and closes its scope while
    // B's is still open; B then sees A's pin gone and its own still held
    val a = Future {
      Pin.scope(spark) {
        pinnedA = Pin.eager(base)
        bothPinned.countDown()
        bothPinned.await(2, TimeUnit.MINUTES)
      }
      aClosed.countDown()
    }
    val b = Future {
      Pin.scope(spark) {
        val (pinned, n) = Pin.counted(base.filter(col("k") === 0))
        bothPinned.countDown()
        aClosed.await(2, TimeUnit.MINUTES)
        (pinned, persisted(rddId(pinnedA)), persisted(rddId(pinned)), n)
      }
    }
    Await.result(a, 2.minutes)
    val (pinnedB, aAfterA, bAfterA, n) = Await.result(b, 2.minutes)
    aAfterA shouldBe false
    bAfterA shouldBe true
    n shouldBe base.filter(col("k") === 0).count()
    persisted(rddId(pinnedB)) shouldBe false
  }

  it should "release its pins when the body throws, and keep an outer scope's" in {
    // the pinned relations stay referenced, so only the scope can free them
    var outer: DataFrame = null
    var inner: DataFrame = null
    Pin.scope(spark) {
      outer = Pin.eager(base)
      an[IllegalStateException] should be thrownBy Pin.scope(spark) {
        inner = Pin.eager(base.filter(col("k") < 10))
        throw new IllegalStateException("boom")
      }
      persisted(rddId(inner)) shouldBe false
      persisted(rddId(outer)) shouldBe true
    }
    persisted(rddId(outer)) shouldBe false
  }

  it should "release the pins of a leg run within it on another thread" in {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val pinned = Pin.scope(spark) {
      val s = Pin.current
      val pinned = Await.result(Future(Pin.within(s)(Pin.eager(base))), 2.minutes)
      persisted(rddId(pinned)) shouldBe true
      pinned
    }
    persisted(rddId(pinned)) shouldBe false
  }

  behavior of "engine pins"

  it should "all go through Pin" in {
    val root = new java.io.File("src/main/scala")
    root.isDirectory shouldBe true
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    // a localCheckpoint outside Pin, or a cache entry (persist / cache),
    // which no Pin.scope releases
    val pin = """\.\s*(localCheckpoint\s*\(|persist\s*\(|cache\s*\(\s*\))""".r
    val hits = scalaFiles(root).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val lines = text.split("\n", -1)
      pin.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n')
        (f, line + 1, lines(line).trim)
      }.filterNot { case (_, _, l) =>
        l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") }
    }
    // Pin's own call, the gate fixtures that pin outside any command, and
    // three cache entries with a known release: BigDiffy's `keyed`, which
    // the DiffResult's lazily-run outputs share until its `unpersist`,
    // TextAnalysis's bench-gram set, unpersisted in a `finally`, and
    // Dedup's connected-components edges, unpersisted after the last round
    val exempt = Map("Pin.scala" -> 1, "BigDiffy.scala" -> 1,
      "TextAnalysis.scala" -> 1, "Dedup.scala" -> 1)
    val (allowed, others) = hits.partition { case (f, _, _) =>
      exempt.contains(f.getName) || f.getPath.endsWith("graft/SparkEntry.scala")
    }
    withClue(others.map { case (f, n, l) => s"${f.getPath}:$n: $l" }.mkString("\n")) {
      others shouldBe empty
    }
    allowed.groupBy(_._1.getName).map { case (f, h) => f -> h.size }
      .filter(e => exempt.contains(e._1)) shouldBe exempt
  }
}
