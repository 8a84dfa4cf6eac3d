package graft.sources

import graft.SparkSpec
import graft.tools.RunRecorder
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.types._

/** `GraftIO.readParquet` returns what `spark.read.parquet` returns — same
  * schema, same rows, same error — without the schema-inference job. */
class GraftIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = graft.SparkSpec.tempDir("graftio").toString

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Helper and Spark agree on the schema and the rows of `path`. */
  private def sameAsSpark(path: String): Unit = {
    val ours = GraftIO.readParquet(spark, path)
    val theirs = spark.read.parquet(path)
    ours.schema shouldBe theirs.schema
    rows(ours) shouldBe rows(theirs)
  }

  /** Both reads fail the same way. */
  private def sameErrorAsSpark(path: String): Unit = {
    val theirs = intercept[AnalysisException](spark.read.parquet(path))
    val ours = intercept[AnalysisException](GraftIO.readParquet(spark, path))
    ours.getCondition shouldBe theirs.getCondition
    ours.getMessage shouldBe theirs.getMessage
  }

  /** Runs `f` with the SQL conf `k` set to `v`, restoring it after. */
  private def withConf[T](k: String, v: String)(f: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The single part file of a one-partition parquet write of `df`. */
  private def partFile(df: DataFrame): File = {
    val dir = tmp() + "/w"
    df.coalesce(1).write.parquet(dir)
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
  }

  private def copy(f: File, to: String): Unit = {
    new File(to).getParentFile.mkdirs()
    Files.copy(f.toPath, new File(to).toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  behavior of "GraftIO.readParquet"

  it should "read a flat directory like Spark" in {
    val dir = tmp() + "/flat"
    (1 to 50).map(i => (i.toLong, s"s$i", i * 0.5, i % 3 == 0)).toDF("id", "s", "d", "b")
      .repartition(3).write.parquet(dir)
    sameAsSpark(dir)
    // a single file path too
    sameAsSpark(new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath)
  }

  it should "read nested struct, array and map columns like Spark" in {
    val dir = tmp() + "/nested"
    Seq((1L, ("a", 1.0), Seq(1, 2), Map("k" -> Seq("v"))),
        (2L, ("b", 2.0), Seq.empty[Int], Map.empty[String, Seq[String]]))
      .toDF("id", "st", "arr", "m").write.parquet(dir)
    sameAsSpark(dir)
  }

  it should "discover a two-level hive layout's partition columns like Spark" in {
    val dir = tmp() + "/hive"
    for (batch <- Seq("init", "b2"))
      (1 to 20).map(i => (i.toLong, Seq(i.toDouble), i % 4)).toDF("id", "v", "cell")
        .write.partitionBy("cell").parquet(s"$dir/batch=$batch")
    sameAsSpark(dir)
    GraftIO.readParquet(spark, dir).columns shouldBe Array("id", "v", "batch", "cell")
    // a footer column that is also a partition column keeps Spark's position
    val both = tmp() + "/overlap"
    Seq((1L, "x")).toDF("id", "batch").write.parquet(s"$both/batch=x")
    sameAsSpark(both)
    GraftIO.readParquet(spark, both).columns shouldBe Array("id", "batch")
  }

  it should "take the schema from _common_metadata, then _metadata, as Spark does" in {
    val dir = tmp() + "/summary"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    copy(partFile(Seq((9L, "z", 1.5)).toDF("id", "s", "extra")), s"$dir/_metadata")
    sameAsSpark(dir)
    GraftIO.readParquet(spark, dir).columns shouldBe Array("id", "s", "extra")
    copy(partFile(Seq((9L, "z", 7)).toDF("id", "s", "common")), s"$dir/_common_metadata")
    sameAsSpark(dir)
    GraftIO.readParquet(spark, dir).columns shouldBe Array("id", "s", "common")
  }

  it should "take the schema from the first file by path when footers differ" in {
    val dir = tmp() + "/differ"
    // written second, listed first: the path order decides, not the write
    copy(partFile(Seq((1L, 2.0)).toDF("x", "z")), s"$dir/part-b.parquet")
    copy(partFile(Seq((3L, "y")).toDF("x", "y")), s"$dir/part-a.parquet")
    sameAsSpark(dir)
    GraftIO.readParquet(spark, dir).columns shouldBe Array("x", "y")
    // a file in a plain sub-directory sorts first by path but is not part
    // of an unpartitioned read at all: the top-level file speaks
    val nested = tmp() + "/nestedfirst"
    copy(partFile(Seq((1L, 2.0)).toDF("x", "z")), s"$nested/b.parquet")
    copy(partFile(Seq((3L, "y")).toDF("x", "y")), s"$nested/a/part.parquet")
    sameAsSpark(nested)
    GraftIO.readParquet(spark, nested).columns shouldBe Array("x", "z")
  }

  it should "convert a non-Spark footer under binaryAsString and inferTimestampNTZ" in {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition.REQUIRED
    // no Spark schema in the key-value metadata: the converter decides
    val dir = tmp() + "/plain"
    val schema = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.BINARY, REQUIRED).named("raw"))
      .addField(Types.primitive(PrimitiveTypeName.INT64, REQUIRED)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.MICROS)).named("ts"))
      .named("rec")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet")).withType(schema).build()
    val factory = new SimpleGroupFactory(schema)
    try Seq(("a", 1706657176220708L), ("bc", 0L)).foreach { case (s, t) =>
      writer.write(factory.newGroup().append("raw", Binary.fromString(s)).append("ts", t))
    } finally writer.close()
    for (binAsString <- Seq("false", "true"); ntz <- Seq("false", "true"))
      withConf("spark.sql.parquet.binaryAsString", binAsString) {
        withConf("spark.sql.parquet.inferTimestampNTZ.enabled", ntz) {
          sameAsSpark(dir)
          val s = GraftIO.readParquet(spark, dir).schema
          s("raw").dataType shouldBe (if (binAsString == "true") StringType else BinaryType)
          s("ts").dataType shouldBe (if (ntz == "true") TimestampNTZType else TimestampType)
        }
      }
  }

  it should "start no Spark job to build the DataFrame" in {
    val dir = tmp() + "/jobs"
    (1 to 10).map(i => (i.toLong, i % 2)).toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
    val rec = new RunRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      def jobsOf(read: => DataFrame): Int = {
        rec.drain(sc); rec.reset()
        read.schema
        rec.drain(sc); rec.jobs.size
      }
      jobsOf(spark.read.parquet(dir)) should be >= 1 // Spark infers in a job
      jobsOf(GraftIO.readParquet(spark, dir)) shouldBe 0
    } finally sc.removeSparkListener(rec)
  }

  it should "leave an empty directory and mergeSchema=true to Spark" in {
    val empty = tmp() + "/empty"
    new File(empty).mkdirs()
    sameErrorAsSpark(empty)
    sameErrorAsSpark(tmp() + "/missing")
    val dir = tmp() + "/merge"
    copy(partFile(Seq((1L, 2.0)).toDF("x", "z")), s"$dir/part-b.parquet")
    copy(partFile(Seq((3L, "y")).toDF("x", "y")), s"$dir/part-a.parquet")
    withConf("spark.sql.parquet.mergeSchema", "true") {
      sameAsSpark(dir)
      GraftIO.readParquet(spark, dir).columns.toSet shouldBe Set("x", "y", "z")
    }
  }

  behavior of "engine parquet reads"

  it should "all go through GraftIO.readParquet" in {
    val root = new File("src/main/scala")
    root.isDirectory shouldBe true
    def scalaFiles(d: File): Seq[File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val read = """\bread\s*\.\s*parquet\s*\(""".r
    val hits = scalaFiles(root).flatMap { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
      val lines = text.split("\n", -1)
      read.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n')
        (f, line + 1, lines(line).trim)
      }.filterNot { case (_, _, l) => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") }
    }
    // the helper's own fallback is the one plain read
    val (helper, others) = hits.partition(_._1.getPath.endsWith("sources/GraftIO.scala"))
    withClue(others.map { case (f, n, l) => s"${f.getPath}:$n: $l" }.mkString("\n")) {
      others shouldBe empty
    }
    helper should have size 1
  }
}
