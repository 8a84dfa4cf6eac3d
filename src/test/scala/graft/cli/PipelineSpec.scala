package graft.cli

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import scala.collection.concurrent.TrieMap

/** The recipe runner's one plan: what it pins, what it counts, and the
  * jobs and scans a recipe costs with `audit` on and off. */
class PipelineSpec extends SparkSpec {
  import PipelineSpec.Scans

  private def tmp(): String = graft.SparkSpec.tempDir("pipeline").toString

  /** `body`'s result and the scans it ran, read after the bus drains. */
  private def scanned[T](body: => T): (T, Scans) = {
    val sc = spark.sparkContext
    val rec = new graft.tools.RunRecorder
    rec.drain(sc)
    val scans = new Scans
    sc.addSparkListener(scans)
    try { val r = body; rec.drain(sc); (r, scans) }
    finally sc.removeSparkListener(scans)
  }

  behavior of "Pipeline.run"

  it should "run the pipeline_e2e recipe in one plan whether audit is on or off" in {
    val base = tmp()
    val docs = "/root/testdata/sf0.01"
    val n = spark.read.parquet(s"$docs/documents.parquet").count()
    val runs = Seq(true, false).map { audit =>
      val rp = s"$base/recipe_$audit.json"
      Files.writeString(Paths.get(rp),
        graft.SparkEntry.pipelineE2eRecipe(docs, s"$base/out_$audit", audit))
      val (stats, scans) = scanned(Pipeline.run(rp, Map.empty, spark))
      withClue(s"audit=$audit: ") {
        // the parent of the one plan ran 23 jobs over 2,550 input records
        // with audit on (the source scanned twice) and 20 jobs over 4,635
        // with it off (the source scanned nine times)
        scans.jobs.size should be <= 20
        scans.inputRecords should be <= 2550L
        scans.fileRecords shouldBe n // the source is scanned once
      }
      (stats.map(s => (s.op, s.rowsIn, s.rowsOut)), scans.jobs.size, scans.inputRecords)
    }
    runs(0) shouldBe runs(1)
    runs(0)._1.head shouldBe (("filter", n, 218L))
    Files.exists(Paths.get(s"$base/out_true/_stages.json")) shouldBe true
    Files.exists(Paths.get(s"$base/out_false/_stages.json")) shouldBe false
  }

  it should "count 0 rows through a middle stage that keeps none" in {
    val base = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").write.parquet(s"$base/in")
    val n = spark.read.parquet(s"$base/in").count()
    // a predicate the optimizer folds to an empty relation, and one it
    // can only learn is empty by running it
    Seq("1 = 0", "doc_id < 0").foreach { predicate =>
      val out = s"$base/out_${predicate.filter(_.isLetterOrDigit)}"
      Files.writeString(Paths.get(s"$base/recipe.json"),
        s"""{"input": "$base/in", "output": "$out",
           | "stages": [{"op": "normalize"},
           |            {"op": "filter", "predicate": "$predicate"},
           |            {"op": "dedup_exact"},
           |            {"op": "quality_top_fraction", "fraction": 0.5},
           |            {"op": "train_order", "shards": 4}]}""".stripMargin)
      val t0 = System.nanoTime()
      val stats = Pipeline.run(s"$base/recipe.json", Map.empty, spark)
      withClue(s"predicate $predicate: ") {
        stats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe Seq(
          ("normalize", n, n), ("filter", n, 0L), ("dedup_exact", 0L, 0L),
          ("quality_top_fraction", 0L, 0L), ("train_order", 0L, 0L))
        // every count arrived: none waited out the bounded read
        (System.nanoTime() - t0) / 1e9 should be < 50.0
        spark.read.parquet(out).count() shouldBe 0L
      }
    }
  }

  it should "count the stages of an avro output, whose RDD write reports no metric" in {
    val base = tmp()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").write.parquet(s"$base/in")
    val n = spark.read.parquet(s"$base/in").count()
    val even = spark.read.parquet(s"$base/in").filter("doc_id % 2 = 0").count()
    Files.writeString(Paths.get(s"$base/recipe.json"),
      s"""{"input": "$base/in", "output": "$base/out", "output_mode": "avro",
         | "stages": [{"op": "normalize"},
         |            {"op": "filter", "predicate": "doc_id % 2 = 0"}]}""".stripMargin)
    val stats = Pipeline.run(s"$base/recipe.json", Map.empty, spark)
    stats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe
      Seq(("normalize", n, n), ("filter", n, even))
    graft.sources.AvroIO.read(spark, s"$base/out").count() shouldBe even
  }

  it should "report the stages only a skipped output write counts as -1 at once" in {
    // a concurrent run completed the output: Graft.write skips it, and the
    // stages after the last pin are never observed
    val base = tmp()
    val in = spark.range(1, 51).selectExpr("id AS doc_id",
      "concat('document number ', id % 40) AS text")
    in.write.parquet(s"$base/in")
    in.write.parquet(s"$base/out")
    val n = in.count()
    Files.writeString(Paths.get(s"$base/recipe.json"),
      s"""{"input": "$base/in", "output": "$base/out",
         | "stages": [{"op": "normalize"}, {"op": "dedup_exact"},
         |            {"op": "filter", "predicate": "doc_id % 2 = 0"}]}""".stripMargin)
    val t0 = System.nanoTime()
    val stats = Pipeline.run(s"$base/recipe.json", Map.empty, spark)
    (System.nanoTime() - t0) / 1e9 should be < 10.0
    // normalize's output is pinned for dedup_exact, which re-reads it
    stats.map(s => (s.op, s.rowsIn, s.rowsOut)) shouldBe Seq(
      ("normalize", n, n), ("dedup_exact", n, -1L), ("filter", -1L, -1L))
  }

  it should "pin the input of exactly the ops that read it more than once" in {
    val base = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "lang")
    docs.write.parquet(s"$base/in")
    docs.filter("doc_id % 97 = 0").select("text").write.parquet(s"$base/bench")
    val n = docs.count()
    val params = Map[String, Map[String, Any]](
      "filter" -> Map("predicate" -> "lang = 'en'"),
      "decontaminate" -> Map("benchmark" -> s"$base/bench"),
      "decontaminate_fuzzy" -> Map("benchmark" -> s"$base/bench"),
      "dsir_select" -> Map("target" -> "lang = 'en'"),
      "token_budget" -> Map("budget" -> 5000L),
      "train_order" -> Map("shards" -> 4L),
      "check" -> Map("constraints" -> Seq(Map("kind" -> "not_null", "col" -> "doc_id"))))
    val ctx = Pipeline.Ctx("doc_id", "text", spark)
    val reads = Pipeline.Ops.toSeq.map { case (name, op) =>
      val in = spark.read.parquet(s"$base/in") // a fresh, unpinned scan
      val (_, scans) = scanned(op.build(params.getOrElse(name, Map.empty), in, ctx)
        .write.format("noop").mode("overwrite").save())
      // the benchmark's few rows never add up to another source scan
      name -> (scans.fileRecords / n > 1L)
    }
    reads shouldBe Pipeline.Ops.toSeq.map { case (name, op) => name -> op.rereads }
  }
}

object PipelineSpec {

  /** Jobs started, and input records read, per stage, split by whether the
    * stage scans files (a `FileScanRDD`) or reads pinned blocks. */
  final class Scans extends SparkListener {
    val jobs: TrieMap[Int, Unit] = TrieMap.empty
    private val scansFiles = TrieMap.empty[Int, Boolean]
    private val records = TrieMap.empty[Int, Long]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs(j.jobId) = ()
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      scansFiles(s.stageInfo.stageId) = s.stageInfo.rddInfos.exists(_.name == "FileScanRDD")
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo.successful && t.taskMetrics != null) records.synchronized {
        records(t.stageId) = records.getOrElse(t.stageId, 0L) +
          t.taskMetrics.inputMetrics.recordsRead
      }
    def inputRecords: Long = records.values.sum
    def fileRecords: Long =
      records.collect { case (s, r) if scansFiles.getOrElse(s, false) => r }.sum
  }
}
