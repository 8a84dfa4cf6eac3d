package graft.sampling

import graft.GraftFunctions._
import graft.core.Pin
import graft.functions.ByteEncoding
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Distributed record sampler: the Spark-native re-expression of the
  * reference's BigSampler dispatch
  * (ratatool-sampling/.../BigSampler.scala:379-434) — three orthogonal axes:
  *
  *   - determinism: random (Bernoulli coin) vs deterministic
  *     (`bound(fieldHash)` coin — same record always in/out, cohorts stay
  *     consistent across datasets hashed on the same fields);
  *   - distribution: none / stratified (keep per-stratum proportions) /
  *     uniform (equalize expected count per stratum,
  *     SamplerSCollectionFunctions.scala:136-157);
  *   - precision: approximate (pure per-record coin, narrow, zero shuffle)
  *     vs exact (rank-based per-stratum cutoff).
  *
  * Scale design (100 TB lens):
  *   - Approximate arms are a single narrow `filter` — no shuffle at all;
  *     the coin column is pure Catalyst so predicate pushdown/codegen apply.
  *     Uniform approximate first counts its strata (one aggregate).
  *   - Per-stratum parameter tables (counts → probabilities/targets) are
  *     tiny (one row per stratum): computed on the driver from one
  *     collect and always BROADCAST-joined, mirroring
  *     the reference's map-side hashJoin and its documented assumption that
  *     "all distinct keys or strata can fit into memory".
  *   - Exact arms rank records per stratum by the coin and cut at
  *     `ceil(count_k * f)`. Simpler and *more* exact than the reference's
  *     bounded-heap threshold estimation (topByKey + Chernoff bounds,
  *     SamplerSCollectionFunctions.scala:193-275), at the cost of a shuffle
  *     by stratum. At extreme scale a stratum's rank-sort spills; the
  *     two-pass alternative (sampleByKeyExact-style) is noted in SURVEY
  *     §7.4.4 — this implementation keeps rank as the oracle semantics.
  */
object BigSampler {

  sealed trait Determinism
  /** Bernoulli coin, seeded. */
  final case class Random(seed: Long = 42L) extends Determinism
  /** Deterministic coin from hashed fields (reference `diceElement`). */
  final case class Hashed(fields: Seq[String], algo: String = "farm",
                          seed: Option[Int] = None,
                          encoding: ByteEncoding = ByteEncoding.Raw) extends Determinism

  sealed trait Distribution
  case object NoDistribution extends Distribution
  final case class Stratified(fields: Seq[String]) extends Distribution
  final case class Uniform(fields: Seq[String]) extends Distribution

  /** The coin in [0,1): the only place the two determinism modes differ. */
  private def coin(det: Determinism): Column = det match {
    case Random(seed)   => rand(seed)
    case h: Hashed      => hashDice(h.fields.map(col), h.algo, h.seed, h.encoding)
  }

  private def strataKey(fields: Seq[String]): Column =
    concat_ws("_", fields.map(f => coalesce(col(f).cast("string"), lit("null"))): _*)

  /** Main entry: sample `fraction` ∈ (0,1] of `df` per the three axes.
    * The approximate arms without a uniform distribution only build a
    * plan; the exact arms and the uniform arm run their per-stratum count
    * job here, before they return, and the returned plan joins the
    * driver-side result as a broadcast local relation. */
  def sample(df: DataFrame, fraction: Double, det: Determinism = Random(),
             dist: Distribution = NoDistribution, exact: Boolean = false): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, s"fraction must be in (0,1], got $fraction")
    (det, dist, exact) match {
      case (Random(seed), NoDistribution, false) =>
        df.sample(withReplacement = false, fraction, seed)
      case (h: Hashed, NoDistribution, false) =>
        df.filter(coin(h) < lit(fraction))
      case (d, Stratified(_), false) =>
        // constant per-record probability preserves strata proportions in
        // expectation (reference BigSampler.scala:393-405) — still narrow
        df.filter(coin(d) < lit(fraction))
      case (d, Uniform(fields), false) =>
        uniformApprox(df, fraction, d, fields)
      case (d, Stratified(fields), true) =>
        exactRank(df, d, strataKey(fields), fractionTargets(fraction))
      case (d, Uniform(fields), true) =>
        exactRank(df, d, strataKey(fields), uniformTargets(fraction))
      case (_, NoDistribution, true) =>
        // exact without strata = exact uniform over a single global stratum
        exactRank(df, det, lit(""), fractionTargets(fraction))
    }
  }

  /** Per-stratum target counts for stratified sampling: ceil(count_k * f). */
  private def fractionTargets(fraction: Double)(counts: Map[String, Long]): Map[String, Long] =
    counts.map { case (s, n) => s -> math.ceil(n * fraction).toLong }

  /** Per-stratum targets for uniform sampling: total*f / #strata for every
    * stratum, capped by the stratum's own size (reference
    * SamplerSCollectionFunctions.scala:136-157). */
  private def uniformTargets(fraction: Double)(counts: Map[String, Long]): Map[String, Long] = {
    val pop = counts.values.sum * fraction / counts.size
    counts.map { case (s, n) => s -> math.min(math.ceil(pop).toLong, n) }
  }

  /** Uniform approximate: per-stratum Bernoulli with p_k = min(pop/n_k, 1)
    * (reference SamplerSCollectionFunctions.scala:136-157). The
    * per-stratum counts are collected when `sample` is called, as the
    * exact arms' histograms are; the probabilities are computed on the
    * driver (pop = total × fraction / #strata, in double) and
    * broadcast-joined as a local relation. */
  private def uniformApprox(df: DataFrame, fraction: Double, det: Determinism,
                            fields: Seq[String]): DataFrame = {
    val key = strataKey(fields)
    val counts = collectGroups(df.groupBy(key.as("__stratum")).agg(count(lit(1))),
      "uniform", "strata", "; reduce the strata-key cardinality")
      .map(r => (r.getString(0), r.getLong(1)))
    val pop = counts.iterator.map(_._2).sum * fraction / counts.length
    import df.sparkSession.implicits._
    val probs = counts.toSeq.map { case (s, n) => (s, math.min(pop / n, 1.0)) }
      .toDF("__stratum", "__p")
    df.withColumn("__stratum", key)
      .join(broadcast(probs), "__stratum")
      .filter(coin(det) < col("__p"))
      .drop("__stratum", "__p")
  }

  /** Exact arm: keep the `target_k` smallest coins within each stratum —
    * exact by construction, so the reference's 1% tolerance assertion
    * (SamplerSCollectionFunctions.scala:79-92) is unnecessary; diagnostics
    * remain available via `sampleDiagnostics`.
    *
    * Scale-safe selection (NO per-stratum global sort): the coin is uniform
    * in [0,1), so it is range-bucketed into `buckets` slices. One cheap
    * aggregate collects per-(stratum, bucket) counts to the driver (size =
    * strata × buckets — the reference's own "strata fit in memory"
    * assumption), which pins down, per stratum, the bucket containing the
    * target-th smallest coin. Everything strictly below that bucket passes
    * with a narrow filter; ONLY the boundary bucket (~n_k/buckets rows) is
    * rank-sorted — and when even that exceeds [[BoundaryWindowMax]] rows,
    * the next coin digit histograms the boundary `buckets`x finer
    * (recursively, up to 4 levels ≈ 10^12 rows per stratum), so the final
    * window never sorts more than ~windowMax rows per stratum. At 100 TB
    * nothing ever funnels a full stratum — let alone the full dataset —
    * through one task.
    *
    * The coin column is evaluated in more than one branch of the plan, so it
    * must reproduce: hash coins are deterministic by definition; `rand(seed)`
    * is deterministic per (partition, row-index), which a re-scan of the
    * same source preserves. */
  /** True when re-scanning `df` may not reproduce identical `rand(seed)`
    * coins across jobs: Spark seeds `rand` per (partition, row order), so
    * re-evaluation is bit-identical for narrow plans rooted ONLY in
    * order-stable leaves — file scans, local relations, cached relations
    * (the same replay contract `RDD.sampleByKeyExact`'s two passes rely
    * on: core/src/main/scala/org/apache/spark/util/random/
    * StratifiedSamplingUtils.scala re-creates the per-partition RNG
    * deterministically). Anything else pins: an operator that reorders
    * rows between evaluations (shuffle fetch order, limits, sample) or
    * any other nondeterminism, AND any leaf we cannot prove order-stable
    * (a JDBC or custom-connector scan without an ORDER BY may legally
    * return rows in a different order per query). */
  private[sampling] def unstableForReplay(df: DataFrame): Boolean =
    unstableForReplay(df, df.sparkSession.conf
      .getOption("spark.dynamicAllocation.enabled").exists(_.equalsIgnoreCase("true")))

  private[sampling] def unstableForReplay(df: DataFrame,
                                          dynamicAllocation: Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    // rand replay needs more than a stable SOURCE: the coins are seeded
    // per (partition, row-index), so the counting job and the two
    // selection scans must also plan IDENTICAL file splits.
    // FilePartition.maxSplitBytes derives from the cluster's default
    // parallelism, which shifts as executors join/leave under dynamic
    // allocation — the jobs could then bucket the same files into
    // different partitions, silently reassigning coins (duplicate or
    // dropped picks). A dynamically-allocated cluster therefore ALWAYS
    // pins; with fixed executors, split planning is a pure function of
    // the file listing and the (session-constant) size confs, which is
    // the residual assumption the whitelist below documents.
    if (dynamicAllocation) return true
    df.queryExecution.optimizedPlan.exists {
      // operators that may reorder rows between evaluations
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
           _: Deduplicate | _: Repartition | _: RepartitionByExpression |
           _: GlobalLimit | _: LocalLimit | _: Sample => true
      // order-stable leaves (whitelist — an unknown leaf must pin)
      case lr: LogicalRelation => !lr.relation.isInstanceOf[HadoopFsRelation]
      case _: LocalRelation | _: InMemoryRelation | _: OneRowRelation => false
      case r: DataSourceV2ScanRelation =>
        // v2 file scans are deterministic; other connectors unknown
        !r.scan.getClass.getName.contains("FileScan")
      case l: LeafNode => true
      case p => p.expressions.exists(_.exists(e => !e.deterministic))
    }
  }

  /** Driver-collect cap for the per-stratum count tables: the exact and
    * uniform arms inherit the reference's "all distinct strata can fit
    * into memory" contract (ratatool-sampling/README.md); this turns the
    * OOM a high-cardinality strata key would cause into a clear error. */
  private val MaxDriverGroups = 4000000

  /** Collects `groups` (a per-stratum aggregate) to the driver, failing
    * past [[MaxDriverGroups]] rows. limit(cap + 1) bounds what can ever
    * reach the driver; the aggregate still runs fully distributed. */
  private def collectGroups(groups: DataFrame, arm: String, what: String,
                            advice: String): Array[Row] = {
    val collected = groups.limit(MaxDriverGroups + 1).collect()
    if (collected.length > MaxDriverGroups)
      throw new IllegalStateException(
        s"$arm sampling collected more than $MaxDriverGroups $what on the driver: " +
          s"the $arm arms assume all distinct strata fit in " +
          s"memory (reference ratatool-sampling/README.md)$advice")
    collected
  }

  /** Largest boundary set the final rank window may sort in one task per
    * stratum before another histogram-refinement level kicks in. */
  private[sampling] val BoundaryWindowMax = 1L << 20

  private[sampling] def exactRank(df: DataFrame, det: Determinism, key: Column,
                        targetOf: Map[String, Long] => Map[String, Long],
                        buckets: Int = 1024,
                        windowMax: Long = BoundaryWindowMax): DataFrame = {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two for exact digit extraction, got $buckets")
    val coined0 = df.withColumn("__stratum", key).withColumn("__coin", coin(det))
    // rand() coins must be IDENTICAL across the counting job and the two
    // selection branches. Hash coins are pure functions of the row and
    // always replay (the recommended arm at scale); rand coins replay on
    // stable narrow scans (see unstableForReplay), so ONLY a Random coin
    // over an unstable lineage pins the coined input — a 100 TB scan-
    // rooted exact sample never materializes the corpus. The pin is
    // released with the caller's Pin.scope, and unlike a cache entry no
    // later query with the same plan can reuse its coins.
    val coined = det match {
      case _: Random if unstableForReplay(df) => Pin.eager(coined0)
      case _ => coined0
    }
    selectSmallest(coined, None, targetOf, buckets, windowMax, digit = 0)
      .drop("__stratum", "__coin")
  }

  /** Coin digit `d` in base `buckets`: the histogram key of refinement
    * level d. The coin is uniform in [0,1), so each digit uniformly
    * sub-divides the previous level's boundary bucket. `buckets` MUST be a
    * power of two (enforced by exactRank): the scale is then a power of
    * two, so `coin * scale` only shifts the exponent — no mantissa
    * rounding — making the digit an exact bit-slice of the coin
    * (monotone within the parent bucket; a non-pow-2 scale could round
    * the product up across a bucket multiple and wrap `%` to 0). Digits
    * beyond 4 (1024^5 = 2^50) would exhaust double precision — the
    * recursion depth guard below stops refining before that. */
  private def coinDigit(buckets: Int, d: Int): Column = {
    val scale = math.pow(buckets.toDouble, (d + 1).toDouble)
    least(floor(col("__coin") * scale) % buckets, lit(buckets - 1)).cast("int")
  }

  /** Keep, per stratum, the `target` rows with the smallest coins — by
    * histogram cut, recursing into the boundary bucket while it is too
    * large to rank in one task (reference exact semantics, scale-safe
    * shape: NO per-stratum global sort, and the final window never sees
    * more than `windowMax` rows per stratum regardless of data size —
    * each level divides the boundary by `buckets`).
    *
    * @param targets per-stratum remaining target; None at level 0 (derived
    *        from the level-0 histogram via `targetOf` — one pass computes
    *        counts and the cut together) */
  private def selectSmallest(coined: DataFrame,
                             targets: Option[Map[String, Long]],
                             targetOf: Map[String, Long] => Map[String, Long],
                             buckets: Int, windowMax: Long,
                             digit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = coined.sparkSession
    val withBkt = coined.withColumn("__bkt", coinDigit(buckets, digit))

    val collected = collectGroups(withBkt.groupBy("__stratum", "__bkt").count(),
      "exact", "(stratum, bucket) groups",
      "; reduce the strata-key cardinality or use approximate sampling")
    val bucketCounts: Map[String, Seq[(Int, Long)]] =
      collected
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap
    val tgt = targets.getOrElse(
      targetOf(bucketCounts.view.mapValues(_.map(_._2).sum).toMap))

    // per stratum: cutoff bucket + how many of its rows still fit + the
    // boundary bucket's own size (drives the refine-vs-window decision)
    val cuts = bucketCounts.toSeq.map { case (s, bks) =>
      val t = tgt.getOrElse(s, 0L)
      var cum = 0L; var cutBkt = buckets; var rem = 0L; var bSize = 0L
      val it = bks.iterator
      while (it.hasNext && cutBkt == buckets) {
        val (b, n) = it.next()
        if (cum + n >= t) { cutBkt = b; rem = t - cum; bSize = n } else cum += n
      }
      (s, cutBkt, rem, bSize)
    }
    import spark.implicits._
    val cut = broadcast(cuts.map { case (s, b, r, _) => (s, b, r) }
      .toDF("__stratum", "__cutbkt", "__rem"))

    val j = withBkt.join(cut, "__stratum")
    val pass = j.filter(col("__bkt") < col("__cutbkt"))
      .drop("__bkt", "__cutbkt", "__rem")
    // strata whose boundary contributes nothing are filtered before the
    // boundary branch ever shuffles them
    val boundary = j.filter(col("__bkt") === col("__cutbkt") && col("__rem") > 0)
      .drop("__bkt", "__cutbkt")

    val maxBoundary = cuts.iterator.map(c => if (c._3 > 0) c._4 else 0L)
      .foldLeft(0L)(math.max)
    val selected =
      if (maxBoundary > windowMax && digit < 4) {
        // boundary too big for one task's sort: recurse — the next coin
        // digit histograms the boundary 1024x finer; only rows of the
        // boundary bucket (1/buckets of this level) are re-scanned
        val subTargets = cuts.map { case (s, _, r, _) => s -> r }.toMap
        selectSmallest(boundary.drop("__rem"), Some(subTargets), targetOf,
          buckets, windowMax, digit + 1)
      } else {
        val w = Window.partitionBy("__stratum").orderBy("__coin")
        boundary
          .withColumn("__rank", row_number().over(w))
          .filter(col("__rank") <= col("__rem"))
          .drop("__rank", "__rem")
      }
    pass.unionByName(selected)
  }

  /** Achieved-vs-target diagnostics per stratum (reference's distribution
    * diff logging, SamplerSCollectionFunctions.scala:52-134): returns
    * (stratum, sampledCount, originalCount, achievedFraction). */
  def sampleDiagnostics(original: DataFrame, sampled: DataFrame,
                        fields: Seq[String]): DataFrame = {
    val k = strataKey(fields)
    val o = original.groupBy(k.as("stratum")).agg(count(lit(1)).as("original_n"))
    val s = sampled.groupBy(k.as("stratum")).agg(count(lit(1)).as("sampled_n"))
    o.join(s, Seq("stratum"), "left")
      .select(col("stratum"), coalesce(col("sampled_n"), lit(0L)).as("sampled_n"),
        col("original_n"),
        (coalesce(col("sampled_n"), lit(0L)).cast("double") / col("original_n"))
          .as("achieved_fraction"))
  }

  /** Distribution assertion (reference R7: exact sampling throws when any
    * stratum drifts more than `tolerance` from the target fraction,
    * SamplerSCollectionFunctions.scala:32, 79-92): collects the small
    * per-stratum summary and fails the job with the offending strata. The
    * engine's exact arms are exact by construction, so this is the guard
    * callers put around APPROXIMATE arms or externally-produced samples. */
  def assertDistribution(original: DataFrame, sampled: DataFrame,
                         fields: Seq[String], targetFraction: Double,
                         tolerance: Double = 0.01): Unit = {
    val bad = sampleDiagnostics(original, sampled, fields)
      .filter(abs(col("achieved_fraction") - lit(targetFraction)) > tolerance)
      .collect()
    if (bad.nonEmpty) {
      val detail = bad.map(r => f"${r.getString(0)}: achieved=${r.getDouble(3)}%.4f")
        .mkString("; ")
      throw new IllegalStateException(
        f"sample distribution off target $targetFraction%.4f by more than " +
          f"$tolerance%.4f in ${bad.length} strata ($detail)")
    }
  }
}
