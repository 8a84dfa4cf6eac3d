package graft.sampling

import graft.SparkSpec
import graft.sampling.BigSampler._
import org.apache.spark.sql.functions._

/** Sampler tolerances and exactness, mirroring the reference's e2e scales
  * (BigSamplerTest.scala:481-832: 25k records, ±tolerances; exact ±0). */
class BigSamplerSpec extends SparkSpec {
  import spark.implicits._

  // 25k rows over 3 strata with skewed sizes
  private lazy val data = {
    val rows = (1L to 25000L).map { i =>
      val stratum = if (i % 10 < 6) "A" else if (i % 10 < 9) "B" else "C"
      (i, stratum, i.toDouble)
    }
    rows.toDF("id", "g", "v").cache()
  }

  behavior of "approximate sampling"

  it should "hit 50% within tolerance, deterministically for hash coins" in {
    val s1 = sample(data, 0.5, Hashed(Seq("id")))
    val s2 = sample(data, 0.5, Hashed(Seq("id")))
    val n = s1.count()
    n.toDouble shouldBe 12500.0 +- 500.0
    s2.count() shouldBe n
    s1.select("id").as[Long].collect().sorted shouldBe
      s2.select("id").as[Long].collect().sorted
  }

  it should "hit 1% and 100% within tolerance (reference basic job bounds)" in {
    sample(data, 0.01, Hashed(Seq("id"))).count().toDouble shouldBe 250.0 +- 100.0
    sample(data, 1.0, Hashed(Seq("id"))).count() shouldBe 25000L
    sample(data, 0.5, Random(7L)).count().toDouble shouldBe 12500.0 +- 700.0
  }

  it should "keep strata proportions under stratified approximate" in {
    val s = sample(data, 0.4, Hashed(Seq("id")), Stratified(Seq("g")))
    val got = s.groupBy("g").count().as[(String, Long)].collect().toMap
    got("A").toDouble shouldBe (15000 * 0.4) +- 600.0
    got("B").toDouble shouldBe (7500 * 0.4) +- 450.0
    got("C").toDouble shouldBe (2500 * 0.4) +- 300.0
  }

  it should "equalize expected per-stratum counts under uniform approximate" in {
    val s = sample(data, 0.3, Random(42L), Uniform(Seq("g")))
    val got = s.groupBy("g").count().as[(String, Long)].collect().toMap
    // pop = 25000*0.3/3 = 2500 per stratum (C has exactly 2500 rows: ~all kept)
    got("A").toDouble shouldBe 2500.0 +- 350.0
    got("B").toDouble shouldBe 2500.0 +- 350.0
    got("C").toDouble shouldBe 2500.0 +- 120.0
  }

  it should "run the uniform arm in at most 4 jobs and keep the plan-side probabilities' rows" in {
    // the arm used to compute p_k = min(pop / n_k, 1) in the plan, with a
    // second aggregate cross-joined to the counts (5 jobs for this write);
    // the driver now computes them from one collect of the counts
    val dir = graft.SparkSpec.tempDir("uniform").toString
    data.write.parquet(s"$dir/in")
    val in = spark.read.parquet(s"$dir/in")
    def planSide(coin: org.apache.spark.sql.Column) = {
      val key = concat_ws("_", coalesce(col("g").cast("string"), lit("null")))
      val counts = in.groupBy(key.as("__stratum")).agg(count(lit(1)).as("__n"))
      val pop = counts.agg((sum("__n") * lit(0.3) / count(lit(1))).as("__pop"))
      val probs = counts.crossJoin(broadcast(pop))
        .select(col("__stratum"), least(col("__pop") / col("__n"), lit(1.0)).as("__p"))
      in.withColumn("__stratum", key).join(broadcast(probs), "__stratum")
        .filter(coin < col("__p")).drop("__stratum", "__p")
    }
    val arms = Seq[(Determinism, org.apache.spark.sql.Column)](
      Hashed(Seq("id")) -> graft.GraftFunctions.hashDice(Seq(col("id"))),
      Random(42L) -> rand(42L))
    for (((det, coin), i) <- arms.zipWithIndex) withClue(s"$det: ") {
      val out = s"$dir/out$i"
      val (_, jobs) = jobsOf(sample(in, 0.3, det, Uniform(Seq("g"))).write.parquet(out))
      jobs should be <= 4
      spark.read.parquet(out).select("id").as[Long].collect().sorted shouldBe
        planSide(coin).select("id").as[Long].collect().sorted
    }
  }

  behavior of "exact sampling"

  it should "produce exactly ceil(n_k * f) per stratum (stratified)" in {
    for (det <- Seq[Determinism](Hashed(Seq("id")), Random(5L))) {
      val s = sample(data, 0.1, det, Stratified(Seq("g")), exact = true)
      val got = s.groupBy("g").count().as[(String, Long)].collect().toMap
      got("A") shouldBe 1500L
      got("B") shouldBe 750L
      got("C") shouldBe 250L
    }
  }

  it should "produce exact uniform per-stratum targets capped by stratum size" in {
    val s = sample(data, 0.3, Hashed(Seq("id")), Uniform(Seq("g")), exact = true)
    val got = s.groupBy("g").count().as[(String, Long)].collect().toMap
    got("A") shouldBe 2500L
    got("B") shouldBe 2500L
    got("C") shouldBe 2500L // capped at stratum size
  }

  it should "produce exactly ceil(n * f) globally with NoDistribution" in {
    sample(data, 0.123, Hashed(Seq("id")), exact = true).count() shouldBe
      math.ceil(25000 * 0.123).toLong
  }

  it should "stay exact and replayable for Random coins over a parquet scan (no pin)" in {
    // the Random arm no longer persists the coined corpus for scan-rooted
    // plans: rand(seed) replays bit-identically across the counting job
    // and both selection branches, so the sample must be exact, free of
    // duplicate picks, and identical run-to-run
    val dir = graft.SparkSpec.tempDir("rxp").toString
    data.write.parquet(s"$dir/in")
    val in = spark.read.parquet(s"$dir/in")
    def run() = sample(in, 0.1, Random(5L), Stratified(Seq("g")), exact = true)
    val s1 = run()
    val ids1 = s1.select("id").as[Long].collect().sorted
    ids1.length shouldBe 2500 // 1500 + 750 + 250, no dupes or drops
    ids1.distinct.length shouldBe ids1.length
    s1.groupBy("g").count().as[(String, Long)].collect().toMap shouldBe
      Map("A" -> 1500L, "B" -> 750L, "C" -> 250L)
    run().select("id").as[Long].collect().sorted shouldBe ids1
  }

  it should "release the Random arm's pin of an unstable input with its scope" in {
    // a persisted cache entry outlived every scope, and a later query with
    // the same plan would have reused its coins
    spark.catalog.clearCache()
    val in = spark.range(1, 25001).selectExpr("id",
      "CASE WHEN id % 10 < 6 THEN 'A' WHEN id % 10 < 9 THEN 'B' ELSE 'C' END AS g")
      .repartition(4)
    BigSampler.unstableForReplay(in) shouldBe true
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ids = graft.core.Pin.scope(spark) {
      sample(in, 0.1, Random(5L), Stratified(Seq("g")), exact = true)
        .select("id").as[Long].collect()
    }
    ids.length shouldBe 2500
    ids.distinct.length shouldBe ids.length
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty shouldBe true
  }

  it should "pin rand replay under dynamic allocation even on stable scans" in {
    // rand(seed) coins are per (partition, row-index): a dynamically-
    // allocated cluster can re-plan file splits between the counting and
    // selection jobs (maxSplitBytes tracks defaultParallelism), so a
    // scan-rooted plan that replays fine with fixed executors must STILL
    // pin when dynamic allocation is on
    val dir = graft.SparkSpec.tempDir("dyn").toString
    data.limit(100).write.parquet(s"$dir/in")
    val stable = spark.read.parquet(s"$dir/in")
    BigSampler.unstableForReplay(stable, dynamicAllocation = false) shouldBe false
    BigSampler.unstableForReplay(stable, dynamicAllocation = true) shouldBe true
    // the session-conf overload: unset locally -> scan-stability decides
    BigSampler.unstableForReplay(stable) shouldBe false
    // shuffled lineage pins regardless
    BigSampler.unstableForReplay(stable.repartition(4),
      dynamicAllocation = false) shouldBe true
  }

  it should "refine the boundary bucket recursively instead of window-sorting it" in {
    // force refinement: tiny windowMax makes every boundary bucket "too
    // big", so selection must recurse through coin digits — and the result
    // must be IDENTICAL (same deterministic coins, same exact cut) to the
    // single-level window path
    def run(windowMax: Long) = BigSampler.exactRank(
      data, Hashed(Seq("id")),
      coalesce(col("g").cast("string"), lit("null")),
      (counts: Map[String, Long]) =>
        counts.map { case (s, n) => s -> math.ceil(n * 0.1).toLong },
      buckets = 8, windowMax = windowMax)
    val refined = run(windowMax = 2)
    val windowed = run(windowMax = Long.MaxValue)
    val refinedIds = refined.select("id").as[Long].collect().sorted
    refinedIds shouldBe windowed.select("id").as[Long].collect().sorted
    refined.groupBy("g").count().as[(String, Long)].collect().toMap shouldBe
      Map("A" -> 1500L, "B" -> 750L, "C" -> 250L)
  }

  it should "reject fractions outside (0, 1]" in {
    an[IllegalArgumentException] should be thrownBy sample(data, 0.0)
    an[IllegalArgumentException] should be thrownBy sample(data, 1.2)
  }

  behavior of "sampleDiagnostics"

  it should "report achieved fractions per stratum" in {
    val s = sample(data, 0.1, Hashed(Seq("id")), Stratified(Seq("g")), exact = true)
    val diag = BigSampler.sampleDiagnostics(data, s, Seq("g"))
      .orderBy("stratum").collect()
    diag.map(_.getString(0)) shouldBe Array("A", "B", "C")
    every(diag.map(_.getDouble(3)).toSeq) shouldBe 0.1 +- 0.001
  }

  behavior of "DirectSampler"

  it should "take deterministic heads and exact-n reservoirs" in {
    DirectSampler.head(data, 10, Seq("id")).as[(Long, String, Double)]
      .collect().map(_._1) shouldBe (1L to 10L).toArray
    DirectSampler.reservoir(data, 99, seed = 1L).count() shouldBe 99L
  }
}

/** R7 distribution assertion + TableRow-analog diff (JSON-read rows through
  * the generic differ, reference TableRowDiffy semantics). */
class DistributionAssertSpec extends graft.SparkSpec {
  import spark.implicits._

  it should "pass within tolerance and throw with offending strata named" in {
    val data = (1L to 10000L).map(i => (i, if (i % 2 == 0) "A" else "B"))
      .toDF("id", "g").cache()
    val s = BigSampler.sample(data, 0.2, BigSampler.Hashed(Seq("id")),
      BigSampler.Stratified(Seq("g")), exact = true)
    noException should be thrownBy
      BigSampler.assertDistribution(data, s, Seq("g"), 0.2, tolerance = 0.01)
    val e = intercept[IllegalStateException] {
      BigSampler.assertDistribution(data, s, Seq("g"), 0.5, tolerance = 0.01)
    }
    e.getMessage should include("2 strata")
    e.getMessage should include("A: achieved=")
  }

  it should "diff JSON-read rows (TableRow analog) through the generic differ" in {
    val dir = graft.SparkSpec.tempDir("trdiff").toString
    Seq((1L, "x", 10.0), (2L, "y", 20.0)).toDF("k", "s", "v")
      .write.json(s"$dir/lhs")
    Seq((1L, "x", 11.0), (2L, "z", 20.0)).toDF("k", "s", "v")
      .write.json(s"$dir/rhs")
    val l = spark.read.json(s"$dir/lhs")
    val r = spark.read.json(s"$dir/rhs")
    val deltas = graft.diffy.BigDiffy.diff(l, r, Seq("k")).deltas
      .orderBy("key").select("key", "field", "delta_type")
      .as[(String, String, String)].collect()
    deltas shouldBe Array(("1", "v", "NUMERIC"), ("2", "s", "STRING"))
  }
}

class TopByKeySpec extends graft.SparkSpec {
  import spark.implicits._
  it should "keep the k smallest rows per key" in {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 5)).toDF("g", "v")
    DirectSampler.topByKey(df, Seq("g"), Seq("v"), 2)
      .orderBy("g", "v").as[(String, Int)].collect() shouldBe
      Array(("a", 1), ("a", 2), ("b", 5), ("b", 9))
  }

  it should "reject non-comparable ordering columns up front" in {
    // Array[Byte] is not Comparable: without the guard the job would
    // ClassCastException mid-task on executors
    val df = Seq(("a", Array[Byte](1))).toDF("g", "b")
    an[IllegalArgumentException] should be thrownBy
      DirectSampler.topByKey(df, Seq("g"), Seq("b"), 1)
    val df2 = Seq(("a", Seq(1))).toDF("g", "arr")
    an[IllegalArgumentException] should be thrownBy
      DirectSampler.topByKey(df2, Seq("g"), Seq("arr"), 1)
  }

  it should "sample exactly k deterministic rows per key with kPerKey" in {
    val df = (1L to 300L).map(i => (i, s"g${i % 3}", s"payload $i"))
      .toDF("id", "g", "p")
    val got = DirectSampler.kPerKey(df, Seq("g"), k = 10)
    got.groupBy("g").count().orderBy("g").as[(String, Long)].collect() shouldBe
      Array(("g0", 10L), ("g1", 10L), ("g2", 10L))
    got.columns.toSeq shouldBe Seq("id", "g", "p") // draw column dropped
    // deterministic re-run, seed re-deal, and under-k keys keep all rows
    val again = DirectSampler.kPerKey(df, Seq("g"), k = 10)
      .select("id").as[Long].collect().sorted
    again shouldBe got.select("id").as[Long].collect().sorted
    DirectSampler.kPerKey(df, Seq("g"), k = 10, seed = 9)
      .select("id").as[Long].collect().sorted should not be again
    DirectSampler.kPerKey(df.filter(col("id") <= 5), Seq("g"), k = 10)
      .count() shouldBe 5L
  }

  it should "reject non-power-of-two bucket counts in exact sampling" in {
    // digit extraction is only rounding-exact when coin*scale shifts the
    // exponent alone (pow-2 scale); other bucket counts could wrap a
    // boundary coin's digit to 0
    val df = Seq((1L, "a")).toDF("id", "g")
    an[IllegalArgumentException] should be thrownBy
      BigSampler.exactRank(df, Hashed(Seq("id")), col("g"),
        (c: Map[String, Long]) => c, buckets = 1000)
  }
}
