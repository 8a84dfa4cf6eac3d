package graft.diffy

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pipeline-level diff stats, mirroring the reference's
  * BigDiffyTest.scala:62-253 (global/key/field stats, NaN, dup keys). */
class BigDiffySpec extends SparkSpec {
  import spark.implicits._

  private def mkSides = {
    val l = (1L to 100L).map(i => (i, i.toDouble, s"s$i")).toDF("k", "v", "s")
    // keys 1-80 shared (v+2.0 on keys 1-40), 81-100 missing on rhs,
    // 101-110 missing on lhs
    val r = ((1L to 40L).map(i => (i, i + 2.0, s"s$i")) ++
      (41L to 80L).map(i => (i, i.toDouble, s"s$i")) ++
      (101L to 110L).map(i => (i, i.toDouble, s"s$i"))).toDF("k", "v", "s")
    (l, r)
  }

  behavior of "BigDiffy stats"

  it should "report all-SAME for identical inputs" in {
    val df = (1L to 50L).map(i => (i, i.toDouble)).toDF("k", "v")
    val g = BigDiffy.diff(df, df, Seq("k")).globalStats.head()
    (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4)) shouldBe
      ((50L, 50L, 0L, 0L, 0L))
  }

  it should "count SAME/DIFFERENT/MISSING correctly" in {
    val (l, r) = mkSides
    val g = BigDiffy.diff(l, r, Seq("k")).globalStats.head()
    (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3), g.getLong(4)) shouldBe
      ((110L, 40L, 40L, 10L, 20L))
  }

  it should "compute exact field stats: constant delta has variance 0.0" in {
    val (l, r) = mkSides
    val fs = BigDiffy.diff(l, r, Seq("k")).fieldStats()
      .filter(col("field") === "v").head()
    fs.getAs[Long]("count") shouldBe 40L
    fs.getAs[Double]("mean") shouldBe 2.0
    fs.getAs[Double]("variance") shouldBe 0.0
    fs.getAs[Double]("min") shouldBe 2.0
    fs.getAs[Double]("max") shouldBe 2.0
    fs.getAs[Double]("fraction") shouldBe 1.0 // 40 deltas / 40 DIFFERENT keys
  }

  it should "propagate NaN into stats unless ignoreNan" in {
    val l = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val r = Seq((1L, Double.NaN), (2L, 4.0), (3L, 5.0)).toDF("k", "v")
    val res = BigDiffy.diff(l, r, Seq("k"))
    assert(res.fieldStats(ignoreNan = false)
      .select("mean").as[Double].head().isNaN)
    val clean = res.fieldStats(ignoreNan = true).head()
    clean.getAs[Long]("count") shouldBe 3L // occurrences counted incl. NaN
    clean.getAs[Double]("mean") shouldBe 2.0
    clean.getAs[Double]("variance") shouldBe 0.0
  }

  it should "fail on duplicate keys by default and allow opt-out" in {
    val dup = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v")
    val ok = Seq((1L, 1.0)).toDF("k", "v")
    // the guard rides inside the join pass (no extra job), so the failure
    // surfaces at the first action that touches the duplicated key
    val e = the[Exception] thrownBy
      BigDiffy.diff(dup, ok, Seq("k")).globalStats.head()
    e.getMessage should include("keys must be unique per side")
    e.getMessage should include("lhs: key '1' appears 2 times")
    noException should be thrownBy
      BigDiffy.diff(dup, ok, Seq("k"), enforceUniqueKeys = false).globalStats.head()
  }

  it should "join multi-keys with _ and render null keys as 'null'" in {
    val l = Seq((Some(1L), "a", 1.0), (None, "b", 2.0)).toDF("k1", "k2", "v")
    val r = Seq((Some(1L), "a", 1.5), (None, "b", 2.0)).toDF("k1", "k2", "v")
    val ks = BigDiffy.diff(l, r, Seq("k1", "k2")).keyStats
      .orderBy("key").as[(String, String)].collect()
    ks shouldBe Array(("1_a", "DIFFERENT"), ("null_b", "SAME"))
  }

  it should "diff over the union of evolved schemas (extra rhs column)" in {
    val l = Seq((1L, 1.0)).toDF("k", "v")
    val r = Seq((1L, 1.0, "new")).toDF("k", "v", "extra")
    val d = BigDiffy.diff(l, r, Seq("k")).deltas.head()
    d.getAs[String]("field") shouldBe "extra"
    d.getAs[String]("delta_type") shouldBe "UNKNOWN"
  }

  behavior of "BigDiffy.saveStats"

  /** A TSV output's part files, concatenated in part order. */
  private def tsvText(dir: String): String =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString

  it should "write the three views' bytes in at most 7 Spark jobs" in {
    // the views saveStats used to write one by one (12 jobs on the nan
    // fixture): keys, fields with a second global aggregate cross-joined
    // in, then global. Earlier tests leave diffs of the same fixtures
    // cached; a hit would hide the join's jobs.
    spark.catalog.clearCache()
    val (l, r) = mkSides
    val nanL = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("k", "v")
    val nanR = Seq((1L, Double.NaN), (2L, 4.0), (3L, 5.0)).toDF("k", "v")
    val empty = Seq.empty[(Long, Double)].toDF("k", "v")
    val cases = Seq(("sides", l, r, false), ("nan", nanL, nanR, false),
      ("ignoreNan", nanL, nanR, true), ("empty", empty, empty, false))
    for ((name, lhs, rhs, ignoreNan) <- cases) withClue(s"$name: ") {
      val base = graft.SparkSpec.tempDir(s"savestats_$name").toString
      val res = BigDiffy.diff(lhs, rhs, Seq("k"))
      try {
        val (_, jobs) = jobsOf(BigDiffy.saveStats(res, s"$base/out", ignoreNan))
        def tsv(df: org.apache.spark.sql.DataFrame, view: String): Unit =
          df.write.option("header", "true").option("sep", "\t").csv(s"$base/ref/$view")
        tsv(res.keyStats, "keys")
        tsv(res.fieldStats(ignoreNan), "fields")
        tsv(res.globalStats, "global")
        for (view <- Seq("keys", "fields", "global"))
          withClue(s"$view: ") { tsvText(s"$base/out/$view") shouldBe tsvText(s"$base/ref/$view") }
        jobs should be <= 7
      } finally res.unpersist()
    }
    // an empty diff keeps the aggregate's null sums
    val g = graft.SparkSpec.tempDir("savestats_empty_read").toString
    val res = BigDiffy.diff(empty, empty, Seq("k"))
    try BigDiffy.saveStats(res, g) finally res.unpersist()
    tsvText(s"$g/global").linesIterator.toSeq shouldBe Seq(
      "num_total\tnum_same\tnum_diff\tnum_missing_lhs\tnum_missing_rhs", "0\t\t\t\t")
  }
}

/** Co-located diff: both sides pre-bucketed on the key join without any
  * Exchange (the 100 TB plan shape for repeated diffs of stable tables). */
class BucketedDiffSpec extends graft.SparkSpec {
  import spark.implicits._

  it should "plan the diff join shuffle-free over bucketed tables" in {
    // default warehouse (spark-warehouse/ under cwd, gitignored) — the
    // warehouse dir is a static conf and cannot move at runtime
    val l = (1L to 2000L).map(i => (i, i.toDouble)).toDF("k", "v")
    val r = (1L to 2000L).map(i => (i, if (i % 10 == 0) i + 1.0 else i.toDouble))
      .toDF("k", "v")
    graft.sources.GraftIO.writeBucketed(l, "diff_lhs", Seq("k"), buckets = 8)
    graft.sources.GraftIO.writeBucketed(r, "diff_rhs", Seq("k"), buckets = 8)

    val lt = spark.table("diff_lhs")
    val rt = spark.table("diff_rhs")
    // joining directly on the bucketed column: no Exchange in the plan
    val joined = lt.join(rt, Seq("k"), "full_outer")
    val plan = joined.queryExecution.executedPlan.toString
    plan should not include "Exchange hashpartitioning"

    // and the full diff over the same tables is numerically right
    val g = BigDiffy.diff(lt, rt, Seq("k")).globalStats.head()
    (g.getLong(0), g.getLong(2)) shouldBe ((2000L, 200L))
  }

  it should "re-run over an existing table and survive an orphaned location" in {
    val df = (1L to 100L).map(i => (i, i.toDouble)).toDF("k", "v")
    graft.sources.GraftIO.writeBucketed(df, "bkt_rerun", Seq("k"), buckets = 4)
    // cataloged-table overwrite path: plain re-run replaces contents
    graft.sources.GraftIO.writeBucketed(df.filter(col("k") <= 50L),
      "bkt_rerun", Seq("k"), buckets = 4)
    spark.table("bkt_rerun").count() shouldBe 50L
    // re-bucketing FROM the same table must fail fast, not delete the data
    an[Exception] should be thrownBy
      graft.sources.GraftIO.writeBucketed(spark.table("bkt_rerun"),
        "bkt_rerun", Seq("k"), buckets = 8)
    spark.table("bkt_rerun").count() shouldBe 50L
    // orphaned location (dir on disk, no catalog entry): write succeeds
    val warehouse = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    spark.sql("DROP TABLE bkt_rerun")
    val orphan = new java.io.File(warehouse, "bkt_orphan")
    orphan.mkdirs()
    new java.io.File(orphan, "leftover").createNewFile()
    graft.sources.GraftIO.writeBucketed(df, "bkt_orphan", Seq("k"), buckets = 4)
    spark.table("bkt_orphan").count() shouldBe 100L
    spark.sql("DROP TABLE bkt_orphan")
  }
}
