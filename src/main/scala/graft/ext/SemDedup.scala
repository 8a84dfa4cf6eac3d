package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic deduplication over an embedding column — the SemDeDup recipe
  * (Abbas et al. 2023, arXiv:2303.09540): k-means the corpus into clusters,
  * then within each cluster drop every vector that is cosine-similar
  * (≥ `tau`) to an earlier-id vector. Near-duplicate SEMANTICS (same
  * content re-encoded, templated boilerplate, paraphrases) concentrate
  * inside clusters, so the quadratic pair step runs per-cluster, never
  * corpus-wide.
  *
  * Clustering is SPHERICAL: vectors are unit-normalized before both
  * training and assignment (the paper clusters normalized embeddings), so
  * cluster membership depends only on direction — a rescaled copy of a
  * vector (cosine 1) always lands in its original's cluster, and cosine
  * itself is normalization-invariant. Zero-norm / NaN vectors cannot be
  * semantic duplicates of anything and are kept in their own `-1` bucket.
  *
  * Spark shape, stage by stage:
  *   - centroid training reuses the IVF path's bounded machinery
  *     ([[Similarity.sampleTrainVecs]] + [[Similarity.localKMeansPP]]):
  *     one O(trainCap) strided sampling job, Lloyd iterations driver-side
  *     on the pinned sample — deterministic given (files, seed), never a
  *     full-corpus pass;
  *   - assignment is map-side only: centroids ship as literals inside the
  *     [[graft.functions.NearestCells]] expression (k × dim doubles — at
  *     the paper's k ≈ n/1000 with dim 64 that is ~0.5 MB per 1M docs;
  *     the caller caps k, not the engine);
  *   - the within-cluster pair step is a self-join ON the cluster id —
  *     shuffle keyed by cluster, so a cluster's ENTIRE c² pair volume
  *     lands in one task. `maxClusterSize` bounds that task: the 10 000
  *     default caps it at ~5×10⁷ cosine evaluations (seconds, not a hung
  *     executor).
  *
  * Oversized clusters (degenerate k-means, adversarial corpora) are NOT
  * skipped — they are resolved with the same size-bounded-recursion
  * judgment as the exact sampler's boundary refinement
  * ([[graft.sampling.BigSampler]]'s range-bucketed rank): first an
  * exact-direction collapse (bit-identical unit vectors are cosine-1
  * duplicates at ANY tau < 1, so a billion copies of one embedding shrink
  * to one representative with a single hash aggregation — no pair step
  * ever sees the mass), then up to `maxSplitRounds` rounds of
  * second-level spherical k-means: each round samples ≤1024 members of
  * every still-oversized cluster (deterministic hash-rate sample), trains
  * sub-centroids driver-side, and reassigns that cluster's rows in ONE
  * broadcast-map pass — no per-cluster Spark jobs, so a corpus with
  * thousands of oversized clusters still spends O(rounds) jobs. Only
  * clusters whose members are a SINGLE direction (bit-identical unit
  * vectors — k-means provably cannot split them, detected from the
  * sample) or whose split budget is exhausted keep the honest
  * skip-and-flag fallback via the returned `oversized` flag.
  * `maxSplitRounds = 0` restores plain skip-and-flag. The recursion
  * trades a sliver of recall AT the split boundaries (two near-dups
  * parted into sibling subclusters are no longer compared — the same
  * granularity trade as running the paper's recipe with a larger k) for
  * a per-task pair bound that holds at ANY corpus size.
  *
  * Keep policy: a vector is removed iff SOME earlier-id vector in its
  * cluster has cosine ≥ tau (the paper's lower-index rule made
  * deterministic by id). Consequently the kept set is tau-sparse within
  * every cluster: for any same-cluster kept pair (a < b), cosine < tau —
  * an invariant the `semdedup` gate re-verifies with exact cosine.
  *
  * Returns one row per input vector: (id, cluster, keep, oversized) —
  * `cluster` is the FINAL (possibly split) cluster id and `oversized`
  * marks rows whose final cluster still skipped pairing.
  *
  * Reference anchor: dedup keep-one policy per ratatool's dedup-by-key
  * idiom (BigSampler.scala:61-81 hash-keep); the semantic grouping is the
  * extension surface, not a reference port.
  */
object SemDedup {

  /** Driver-memory budget for the split rounds' per-round collects
    * (guide §5: the driver should do almost no data work). Each round
    * samples ≤1024 vectors per still-oversized cluster; with millions of
    * oversized clusters that collect is active × 1024 × dim × 8 bytes —
    * unbounded in the corpus. The budget turns it into WAVES: a round
    * collects at most this many bytes of samples at a time (clusters
    * beyond the wave are sampled in the next wave of the same round),
    * and sub-centroid maps past the same budget defer their clusters to
    * the next round (logged), so driver residency is bounded at any
    * corpus size. On non-degenerate inputs (active clusters fit one
    * wave) the plan is bit-identical to the unguarded form. */
  val DefaultDriverSplitBudgetBytes: Long = 256L << 20

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int, tau: Double,
                    trainCap: Long = 100000L, maxIter: Int = 20,
                    seed: Long = 42L,
                    maxClusterSize: Int = 10000,
                    maxSplitRounds: Int = 6,
                    driverSplitBudgetBytes: Long = DefaultDriverSplitBudgetBytes): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(tau >= -1.0 && tau <= 1.0, s"tau must be a cosine in [-1,1], got $tau")
    require(maxSplitRounds >= 0, s"maxSplitRounds must be >= 0, got $maxSplitRounds")
    import df.sparkSession.implicits._
    val raw = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // spherical: unit-normalize for training + assignment (zero-norm /
    // NaN → null, which NearestCells / sampleTrainVecs already degrade
    // safely); the raw vector is NOT carried along — cosine is
    // direction-only, so every later stage reads the unit vector
    val v = raw.select(col("id"), Embeddings.l2Normalize(col("v")).as("v"))

    val pts = Similarity.sampleTrainVecs(v, trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    require(pts.nonEmpty, "semanticDedup: no finite vectors to train on")
    val centroids =
      Similarity.localKMeansPP(pts, math.min(k, pts.length), maxIter, seed)

    // map-side assignment; degenerate vectors (NaN/dim-mismatch) get a
    // null cell from NearestCells and form their own "cluster" -1 — they
    // cannot be semantic duplicates of anything, so they are always kept.
    // cluster is LONG: split rounds allocate fresh ids above k
    // pinned: the size filter, both pair sides, and the final keep join
    // would each re-run assignment (k × dim multiplies per row) otherwise
    val assigned = Pin.eager(v
      .withColumn("cluster",
        coalesce(nearestCells(col("v"), centroids, 1)(0).cast("long"), lit(-1L))))

    // one bounded collect (≤ k+1 rows — initial cells) decides whether the
    // degenerate path is needed at all; the final sizes stay LAZY so AQE
    // keeps broadcasting the (tiny) pairable filter into the self-join —
    // checkpointing sizes here loses its stats and demotes that broadcast
    val overIds = assigned.filter(col("cluster") >= 0)
      .groupBy("cluster").count()
      .filter(col("count") > maxClusterSize)
      .select(col("cluster")).as[Long].collect().sorted

    require(driverSplitBudgetBytes > 0,
      s"driverSplitBudgetBytes must be positive, got $driverSplitBudgetBytes")
    val (resolved, exactRemoved) =
      if (overIds.isEmpty) (assigned, None)
      else resolveOversized(assigned, overIds, k, tau, maxClusterSize,
        maxIter, seed, maxSplitRounds, centroids.headOption.map(_.length)
          .getOrElse(pts(0).length), driverSplitBudgetBytes)

    val sizes = resolved.filter(col("cluster") >= 0)
      .groupBy("cluster").count()
    val pairable = sizes.filter(col("count") > 1 && col("count") <= maxClusterSize)
    val oversized = sizes.filter(col("count") > maxClusterSize)
      .select(col("cluster"), lit(true).as("oversized"))

    val a = resolved.join(pairable.select("cluster"), "cluster")
      .select(col("cluster"), col("id").as("id_a"), col("v").as("va"))
    val b = resolved.join(pairable.select("cluster"), "cluster")
      .select(col("cluster"), col("id").as("id_b"), col("v").as("vb"))
    val removed = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(1.0) - cosineDistance(col("va"), col("vb")) >= tau)
      .select(col("id_b").as("id")).distinct()
      .withColumn("removed", lit(true))

    val mainOut = resolved.join(removed, Seq("id"), "left")
      .join(oversized, Seq("cluster"), "left")
      .select(col("id"), col("cluster"),
        coalesce(!col("removed"), lit(true)).as("keep"),
        coalesce(col("oversized"), lit(false)).as("oversized"))

    exactRemoved match {
      case None => mainOut
      case Some(er) =>
        // collapsed copies inherit their representative's FINAL cluster
        // (the rep is their earlier-id cosine-1 witness there) and are
        // removed unconditionally
        val exactOut = er.join(
            mainOut.select(col("id").as("rep"), col("cluster"), col("oversized")),
            "rep")
          .select(col("id"), col("cluster"), lit(false).as("keep"),
            col("oversized"))
        mainOut.unionByName(exactOut)
    }
  }

  /** Shrinks every cluster in `overIds` under `maxClusterSize` (or proves
    * it unsplittable). Returns the re-clustered frame (same (id, v,
    * cluster) schema, every non-collapsed row exactly once) plus the
    * (id, rep) pairs removed by the exact-direction collapse.
    *
    * Driver state is bounded: each round collects one (cluster, count)
    * row per still-active cluster (≤ oversized-rows / maxClusterSize —
    * settled clusters leave the working set every round) and a ≤1024-row
    * vector sample per oversized cluster. All reassignment is one
    * broadcast-map pass per round regardless of how many clusters split. */
  private def resolveOversized(assigned: DataFrame, overIds: Array[Long],
      k: Int, tau: Double, maxClusterSize: Int, maxIter: Int, seed: Long,
      maxSplitRounds: Int, dim: Int,
      driverSplitBudgetBytes: Long): (DataFrame, Option[DataFrame]) = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val overDF = broadcast(overIds.toSeq.toDF("cluster"))
    val nonOver = assigned.join(overDF, Seq("cluster"), "left_anti")
    val overRows = assigned.join(overDF, Seq("cluster"))
      .select("id", "v", "cluster")

    // (a) exact-direction collapse: bit-identical unit vectors are
    // cosine-1 duplicates, and the min-id copy any later copy would cite
    // as witness IS the representative — so collapsing preserves the keep
    // policy exactly. Guarded away from tau ≈ 1.0, where the float cosine
    // of identical vectors may round a hair below the threshold.
    val (work0, exactRemoved) =
      if (tau > 1.0 - 1e-9) (overRows, None)
      else {
        val reps = overRows.groupBy(col("cluster"), col("v"))
          .agg(min(col("id")).as("rep"))
        val tagged = Pin.eager(overRows.join(reps, Seq("cluster", "v"))
          .select("id", "v", "cluster", "rep")) // both branches below re-read it
        (tagged.filter(col("id") === col("rep")).select("id", "v", "cluster"),
          Some(tagged.filter(col("id") =!= col("rep")).select("id", "rep")))
      }

    // (b) split rounds. Child ids start at k (initial cells are < k) and
    // grow monotonically — collision-free across rounds at any depth.
    val sampleCap = 1024
    var work = Pin.eager(work0)
    var done = List.empty[DataFrame]
    var stuck = Set.empty[Long]
    var nextChild = k.toLong
    var round = 0
    while (round < maxSplitRounds && work != null) {
      val szs = work.groupBy("cluster").count().as[(Long, Long)].collect().toMap
      val overNow = szs.filter { case (c, n) =>
        n > maxClusterSize && !stuck.contains(c) }
      if (overNow.isEmpty) { done ::= work; work = null }
      else {
        // settled (small or stuck) clusters leave the working set so the
        // per-round collects stay bounded by the ACTIVE cluster count
        val overNowDF = broadcast(overNow.keys.toSeq.sorted.toDF("cluster"))
        done ::= work.join(overNowDF, Seq("cluster"), "left_anti")
        val active = work.join(overNowDF, Seq("cluster"))
          .select("id", "v", "cluster")

        // deterministic per-cluster sample: hash-rate filter to ~2×cap
        // expected rows, then the cap'th smallest hashes (a zero-draw
        // round — astronomically unlikely — just re-samples next round
        // under a fresh salt). The collect is WAVE-bounded by the driver
        // budget (guide §5): at most budget/(cap×dim×8) clusters' samples
        // are resident at once — one wave on any non-degenerate input
        // (identical plan to the unguarded form), several sequential
        // waves only when millions of clusters are simultaneously
        // oversized, where the unguarded collect would OOM the driver.
        val perClusterBytes = math.max(1L, sampleCap.toLong * dim * 8)
        val waveClusters = math.max(1,
          math.min(Int.MaxValue.toLong,
            driverSplitBudgetBytes / perClusterBytes).toInt)
        val activeIds = overNow.keys.toSeq.sorted
        if (activeIds.size > waveClusters)
          System.err.println(s"[graft] semanticDedup: ${activeIds.size} " +
            s"oversized clusters exceed the driver sample budget " +
            s"($waveClusters/wave at dim=$dim) — sampling round $round " +
            s"in ${(activeIds.size + waveClusters - 1) / waveClusters} waves")
        def sampleWave(ids: Seq[Long]): Array[(Long, Seq[Seq[Double]])] = {
          val rates = ids.sorted
            .map(c => (c, math.min(1.0, 2.0 * sampleCap / szs(c))))
            .toDF("cluster", "p")
          val h = pmod(xxhash64(col("id"), lit(round)), lit(1000000L))
          active.join(broadcast(rates), Seq("cluster"))
            .filter(h < col("p") * 1000000L)
            .groupBy("cluster")
            .agg(slice(sort_array(collect_list(struct(
              xxhash64(col("id"), lit(round)).as("h"), col("v").as("v")))),
              1, sampleCap).as("sv"))
            .select(col("cluster"),
              transform(col("sv"), s => s.getField("v")).as("pts"))
            .as[(Long, Seq[Seq[Double]])].collect().sortBy(_._1)
        }

        var childMap = Map.empty[Long, (Long, Array[Array[Double]])]
        var childMapBytes = 0L
        var deferred = 0
        for (wave <- activeIds.grouped(waveClusters);
             (c, ptsSeq) <- sampleWave(wave)) {
          val pts = ptsSeq.map(_.toArray).toArray
          // "stuck" must be PROVEN: >= 2 sampled points, all identical.
          // A 1-point draw (same astronomically-rare class as a zero
          // draw) proves nothing — leave the cluster active so it
          // re-samples next round under the fresh salt
          val oneDirection = pts.length >= 2 &&
            pts.forall(p => java.util.Arrays.equals(p, pts(0)))
          if (oneDirection) stuck += c // k-means cannot split identical points
          else if (pts.length >= 2) {
            // the sub-centroid map is broadcast to every executor: past
            // the same budget, defer the remaining clusters to the next
            // round (they stay active and re-sample under a fresh salt;
            // maxSplitRounds still bounds the recursion, and exhaustion
            // degrades to the documented skip-and-flag fallback)
            if (childMapBytes >= driverSplitBudgetBytes) deferred += 1
            else {
              val kSub = math.min(16,
                math.max(2, math.ceil(2.0 * szs(c) / maxClusterSize).toInt))
              val cents = Similarity.localKMeansPP(pts,
                math.min(kSub, pts.length), maxIter,
                seed ^ c ^ (round.toLong << 32))
              childMap += c -> (nextChild, cents)
              childMapBytes += cents.length.toLong * dim * 8 + 64
              nextChild += cents.length
            }
          }
        }
        if (deferred > 0)
          System.err.println(s"[graft] semanticDedup: sub-centroid map hit " +
            s"the ${driverSplitBudgetBytes >> 20} MiB driver budget — " +
            s"$deferred clusters deferred to round ${round + 1}")
        // a cluster that produced no children and is not provably stuck
        // (zero-draw round, or a 1-point draw above) must stay active and
        // re-sample next round under the fresh salt. Terminate on an
        // empty childMap only when every active cluster is provably
        // stuck; otherwise advance the round so those clusters get their
        // retry (maxSplitRounds still bounds the loop).
        val zeroDraw = overNow.keySet -- childMap.keySet -- stuck
        if (childMap.isEmpty && zeroDraw.isEmpty) { done ::= active; work = null }
        else if (childMap.isEmpty) {
          work = Pin.eager(active)
          round += 1
        } else {
          val bc = spark.sparkContext.broadcast(childMap)
          // Lloyd's own metric (L2 argmin over unit vectors ≡ max cosine
          // up to the centroid-norm term Lloyd converged under)
          val reassign = udf { (c: Long, vv: Seq[Double]) =>
            bc.value.get(c) match {
              case None => c
              case Some((base, cents)) =>
                var best = 0; var bd = Double.PositiveInfinity; var i = 0
                while (i < cents.length) {
                  val cc = cents(i); var s = 0.0; var j = 0
                  while (j < cc.length) {
                    val t = vv(j) - cc(j); s += t * t; j += 1
                  }
                  if (s < bd) { bd = s; best = i }
                  i += 1
                }
                base + best
            }
          }
          work = Pin.eager(active // pin each round: bounded lineage
            .withColumn("cluster", reassign(col("cluster"), col("v"))))
          // the pin above fully materialized the reassign, so
          // this round's centroid broadcast is dead — destroy it instead
          // of letting one broadcast per round pile up on the executors
          bc.destroy()
          round += 1
        }
      }
    }
    if (work != null) done ::= work // budget exhausted → size check flags
    (Pin.eager(done.foldLeft(nonOver)(_ unionByName _)), exactRemoved)
  }
}
