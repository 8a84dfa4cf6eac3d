package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import graft.functions.TopK
import graft.sources.GraftIO
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), per the brief's training-data-pipeline surface.
  *
  * Five paths:
  *   - `bruteForceTopK`: broadcast the (small) query set against the full
  *     corpus; exact, O(corpus × queries). The correctness oracle.
  *   - `lshTopK`: random-hyperplane LSH — bucket corpus and queries by
  *     sign-pattern chunks of the projection vector, join per bucket,
  *     re-rank within candidates. The scale path: shuffle is O(corpus ×
  *     tables), never corpus². Hyperplanes are generated driver-side from
  *     a fixed seed and shipped as literals (no closure capture).
  *   - `ivfTopK`: k-means inverted-file ANN — data-adaptive cells, trained
  *     on a bounded sample. Prunes COMPUTE (candidates per query).
  *   - `pqTopK`: product-quantization ADC — m-code compression of the
  *     scanned relation. Prunes MEMORY (bytes per candidate).
  *   - `ivfpqTopK`: faiss-style residual IVF-PQ — both at once.
  *
  * Writer concurrency and batch lifecycle for the persisted IVF /
  * IVF-PQ artifacts: build, append, compact, retrain and dropIndexBatch
  * go through [[ArtifactIO]]'s lifecycle steps (single writer, under the
  * `_writer_lock` lease; see its header). Both families share one
  * cell-partitioned postings store. searchIvfIndex/searchIvfPqIndex never
  * take the lease.
  *
  * Uniform contract across all paths: the final per-query top-k is the
  * k-bounded [[graft.functions.TopK.ByScore]] aggregation (never a window
  * over `query_id`), and degenerate pairs — null/NaN similarity from
  * empty, NaN, or dimension-mismatched vectors — are dropped, so a fully
  * degenerate query emits no rows on the exact path and the ANN paths
  * alike.
  */
object Similarity {

  /** Shared final stage of all three search paths: k best candidates per
    * query by (cosine_sim desc, id asc), via the k-bounded [[TopK.ByScore]]
    * aggregator — partial O(k) buffers map-side, the per-query shuffle
    * carries buffers not candidates, and no task ever sorts a query's full
    * candidate set (the scale property the old per-query `row_number()`
    * window lacked).
    *
    * Contract (all paths): degenerate pairs — null or NaN cosine similarity
    * from empty / NaN / dimension-mismatched vectors — are dropped, so a
    * fully-degenerate query yields no output rows. Integral ids are widened
    * to long in `neighbor_id`; any other id type is rendered as string.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val clean = scored.filter(col("cosine_sim").isNotNull && !isnan(col("cosine_sim")))
    val agg = scored.schema("id").dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        udaf(new TopK.ByScore[Long](k), ExpressionEncoder[(Long, Double)]())
          .apply(col("id").cast(LongType), col("cosine_sim"))
      case _ =>
        udaf(new TopK.ByScore[String](k), ExpressionEncoder[(String, Double)]())
          .apply(col("id").cast(StringType), col("cosine_sim"))
    }
    clean.groupBy("query_id").agg(agg.as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.neighbor_id").as("neighbor_id"),
        col("h.cosine_sim").as("cosine_sim"), col("h.rank").as("rank"))
  }

  /** Exact top-k cosine neighbors for each query vector. `queries` must be
    * small (it is broadcast); corpus scan stays narrow into the k-bounded
    * per-query aggregation. O(corpus × queries) by declared contract — this
    * is the correctness oracle for the ANN paths. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("v"), col("qv")))
    topKPerQuery(scored, k)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes from a seed. */
  private def hyperplanes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-pattern bucket id of a vector under `bits` hyperplanes: ONE
    * custom-expression pass over the vector for all bits (the previous
    * aggregate(zip_with(...))-per-bit tree traversed the array `bits`
    * times per table per row). */
  private def signBits(vec: Column, planes: Array[Array[Double]]): Column =
    lshSignBits(vec, planes)

  /** LSH ANN: `tables` independent sign-hash tables of `bits` bits each.
    * Candidates = corpus vectors sharing a bucket with the query in any
    * table; exact cosine re-rank keeps top-k. Recall grows with tables,
    * cost with tables × bucket size. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, bits: Int = 12, tables: Int = 4,
              seed: Long = 42L, maxBucketSize: Int = 100000): DataFrame = {
    val planeSets = Array.tabulate(tables)(t => hyperplanes(dim, bits, seed + t))

    // bucket the IDS only: the exploded ×tables relation and the candidate
    // dedup shuffle stay 3 scalars wide — vectors are re-joined by id after
    // the candidate set is down to distinct (query, id) pairs
    def bucketed(df: DataFrame, id: String, v: String): DataFrame = {
      val buckets = planeSets.zipWithIndex.map { case (planes, t) =>
        struct(lit(t).as("table"), signBits(col(v), planes).as("bucket"))
      }
      df.select(col(id), explode(array(buckets.toIndexedSeq: _*)).as("tb"))
        .select(col(id), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    }

    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // pinned: bucket counts + the candidate join would otherwise both
    // recompute dim×bits×tables dot products per corpus row. A Pin, not
    // persist: no plan-keyed cache entry outlives the call (see Dedup's
    // cache-lifecycle note)
    val cb = Pin.eager(bucketed(corpusV, "id", "v"))
    val qb = bucketed(queryV, "query_id", "qv")

    // cap hot buckets (e.g. zero/degenerate vectors all land in one sign
    // pattern): a bucket larger than maxBucketSize would fan out unbounded
    // against every query sharing it — same guard as Dedup.maxBucketSize
    val okBuckets = cb.groupBy("table", "bucket").count()
      .filter(col("count") <= maxBucketSize).drop("count")

    val cand = cb.join(broadcast(okBuckets), Seq("table", "bucket"))
      .join(broadcast(qb), Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"))
      .dropDuplicates("query_id", "id")
      .join(corpusV, "id")
      .join(broadcast(queryV), "query_id")
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("v"), col("qv")))
    topKPerQuery(cand, k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nlist` cells; each query probes its `nprobe` nearest
    * cells and re-ranks candidates by exact cosine.
    *
    * Scale shape: the quantizer trains on a bounded SAMPLE (driver-side
    * seeded Lloyd over ≤ `trainCap` collected rows — bounded by design,
    * so the fit costs the same at any corpus size; see
    * [[trainCoarseCentroids]]), centroids ship as expression literals
    * (no closure capture), corpus
    * assignment is one narrow scan pass, and the candidate join shuffles
    * ids+cells only. Unlike sign-LSH the cells adapt to the data
    * distribution, so recall per candidate examined is typically higher
    * on clustered real-world embeddings. Candidates examined per query ≈
    * corpus × nprobe / nlist.
    */
  /** @param maxIter k-means iterations for the coarse quantizer. A coarse
    *        quantizer only needs roughly-shaped cells — recall comes from
    *        `nprobe`, not from a tightly-converged fit — so the default
    *        stays deliberately below the classic 20 (Lloyd also
    *        early-exits once assignments settle). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
              trainCap: Long = 100000L, maxIter: Int = 10): DataFrame = {
    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    trainCoarseCentroids(corpusV, nlist, seed, trainCap, maxIter) match {
      // empty/degenerate corpus (nothing finite to train on): return an
      // empty result ROUTED THROUGH topKPerQuery so the schema (incl. the
      // integral-id widening / string rendering of neighbor_id) is
      // identical to the normal path's
      case None =>
        topKPerQuery(
          corpusV.crossJoin(queryV)
            .withColumn("cosine_sim", lit(null).cast("double"))
            .limit(0), k)
      case Some(centroids) => ivfSearch(corpusV, queryV, centroids, k, nprobe)
    }
  }

  /** The coarse-quantizer fit shared by [[ivfTopK]] and [[buildIvfIndex]]:
    * the bounded sample is collected and fit DRIVER-SIDE with the seeded
    * k-means++/Lloyd shared by every other quantizer here ([[pqTopK]],
    * [[ivfpqTopK]], [[SemDedup]]). The sample is ≤ trainCap × dim doubles
    * by construction (~50 MB at the 100k default over dim 64 — the same
    * collect the PQ trainer has always done), so the fit costs
    * microseconds of driver CPU where the previous distributed MLlib fit
    * cost maxIter JOB CASCADES over a sub-trainCap sample: measured at
    * bench scale, each fit was 12-25 scheduler round-trips (~1-2 s of
    * pure fixed overhead) for data that fits in one task — and at 100 TB
    * the sample is STILL ≤ trainCap rows, so nothing about the
    * distributed path ever amortized. Corpus-side work (the strided
    * sampling scan, cell assignment) stays fully distributed. None on an
    * empty/degenerate corpus (no finite vector to train on). */
  private[ext] def trainCoarseCentroids(corpusV: DataFrame, nlist: Int,
      seed: Long, trainCap: Long, maxIter: Int,
      trainStride: Int = 16): Option[Array[Array[Double]]] = {
    val pts = sampleTrainVecs(corpusV, trainCap, trainStride)
      .collect().map(_.getSeq[Double](0).toArray)
    if (pts.isEmpty) None
    // k clamps to the point count (a 1-row sample yields one centroid =
    // one cell = probe everything, as before)
    else Some(localKMeansPP(pts, math.min(nlist, pts.length), maxIter, seed))
  }

  /** One codebook per even-ish subspace (first dim%m subspaces take one
    * extra dimension), trained with the seeded in-memory k-means — THE
    * subspace layout and training shared by pqTopK, ivfpqTopK, and
    * Embeddings.pqCodebooks, so storage and search codecs can never
    * silently diverge. */
  private[ext] def trainSubCodebooks(pts: Array[Array[Double]], m: Int,
      codebookSize: Int, maxIter: Int, seed: Long): Array[Array[Array[Double]]] = {
    val dim = pts(0).length
    require(m <= dim, s"m=$m subspaces need dim >= m, got dim=$dim")
    val lens = Array.tabulate(m)(sp => dim / m + (if (sp < dim % m) 1 else 0))
    val offs = lens.scanLeft(0)(_ + _)
    val k_ = math.min(codebookSize, pts.length)
    Array.tabulate(m) { sp =>
      val sub = pts.map(p => java.util.Arrays.copyOfRange(p, offs(sp), offs(sp) + lens(sp)))
      localKMeansPP(sub, k_, maxIter, seed + sp)
    }
  }

  /** Seeded in-memory k-means (k-means++ init + Lloyd) for the PQ
    * codebooks: deterministic given (points, k, seed). Empty clusters
    * keep their previous centroid; k is clamped to the point count by
    * the caller. */
  private[ext] def localKMeansPP(points: Array[Array[Double]], k: Int,
                            maxIter: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    if (k <= 1 || n == 1) return Array(points(0).clone())
    val rnd = new java.util.Random(seed)
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val centers = new Array[Array[Double]](k)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.PositiveInfinity)
    var c = 1
    while (c < k) {
      var i = 0; var sum = 0.0
      while (i < n) {
        val dd = dist2(points(i), centers(c - 1))
        if (dd < minD(i)) minD(i) = dd
        sum += minD(i); i += 1
      }
      // D²-weighted next seed; duplicate-heavy samples (sum == 0) just
      // reuse a point, which Lloyd then leaves as a duplicate centroid
      var r = rnd.nextDouble() * sum; var j = 0
      while (j < n - 1 && r > minD(j)) { r -= minD(j); j += 1 }
      centers(c) = points(j).clone()
      c += 1
    }
    val assign = Array.fill(n)(-1)
    var it = 0; var moved = true
    while (it < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.PositiveInfinity; var cc = 0
        while (cc < k) {
          val dd = dist2(points(i), centers(cc))
          if (dd < bd) { bd = dd; best = cc }
          cc += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      if (moved) {
        val sums = Array.fill(k, d)(0.0); val cnt = new Array[Int](k)
        var i2 = 0
        while (i2 < n) {
          val a = assign(i2); cnt(a) += 1; val p = points(i2)
          var j = 0
          while (j < d) { sums(a)(j) += p(j); j += 1 }
          i2 += 1
        }
        var cc = 0
        while (cc < k) {
          if (cnt(cc) > 0) {
            var j = 0
            while (j < d) { sums(cc)(j) /= cnt(cc); j += 1 }
            centers(cc) = sums(cc)
          }
          cc += 1
        }
      }
      it += 1
    }
    centers
  }

  /** Bounded quantizer-training sample WITHOUT a full corpus pass: take
    * every `trainStride`-th finite vector of each partition until the
    * per-partition quota is met. Each task early-terminates after
    * scanning ≤ stride × quota rows, so the sampling job touches
    * O(trainCap) rows total regardless of corpus size (count + fraction
    * sampling would cost two full scans just to size the sample).
    * Striding (vs a pure prefix) matters because embedding files are
    * routinely written CLUSTERED — a prefix of each partition would train
    * the quantizer on one corner of the space and recall would degrade;
    * every m-th row spans each partition's local ordering at the same
    * bounded scan cost. Deterministic given the (sorted) file listing —
    * adequate for a coarse or product quantizer. KMeans.fit rejects
    * NaN/Inf features; NearestCells already degrades such rows to null at
    * assignment, so they are excluded from training too. Returns a LAZY
    * single-column ("v", array<double>) frame; every trainer collects it
    * exactly once, driver-side — the persist+coalesce this used to carry
    * only served the removed distributed-MLlib fit's repeated iteration
    * scans. */
  /** `trainStride` keeps every `stride`-th row per partition before the
    * per-partition cap: 16 (the ANN coarse-quantizer default) decorrelates
    * the sample cheaply but shrinks tiny corpora 16×; pass 1 when the fit
    * quality matters more than sampling cost (first-class clustering). */
  private[ext] def sampleTrainVecs(corpusV: DataFrame, trainCap: Long,
                                   trainStride: Int = 16): DataFrame = {
    val finiteVecs = corpusV
      .filter(!exists(col("v"),
        x => isnan(x) || abs(x) >= lit(Double.PositiveInfinity)))
      .select(col("v").cast("array<double>"))
    val parts = math.max(1, finiteVecs.rdd.getNumPartitions)
    // clamp to Int range: trainCap / parts overflows .toInt for caps past
    // ~2^31 × partitions, which would silently sample NOTHING
    val perPart = math.min(math.max(1L, trainCap / parts), Int.MaxValue.toLong).toInt
    import corpusV.sparkSession.implicits._
    finiteVecs.as[Seq[Double]]
      .mapPartitions(_.grouped(trainStride).map(_.head).take(perPart))
      .toDF("v")
  }

  /** Assignment + probe + re-rank stage of [[ivfTopK]], split out so the
    * training sample can be unpersisted as soon as the centroids exist. */
  private[ext] def ivfSearch(corpusV: DataFrame, queryV: DataFrame,
                             centroids: Array[Array[Double]], k: Int,
                             nprobe: Int): DataFrame = {
    // KMeans may return fewer than k centers on small/degenerate corpora;
    // probing more cells than exist is just "probe everything"
    val effNprobe = math.min(nprobe, centroids.length)

    val assigned = corpusV
      .withColumn("cell", nearestCells(col("v"), centroids, 1)(0))
    val probed = queryV
      .select(col("query_id"),
        explode(nearestCells(col("qv"), centroids, effNprobe)).as("cell"))

    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(queryV), Seq("query_id"))
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("v"), col("qv")))
    topKPerQuery(cand, k)
  }

  // ---- first-class clustering (topic bucketing) ---------------------------

  /** Train `k` data-adaptive centroids over an embedding column — the IVF
    * coarse quantizer exposed as a first-class operator. Driver-side
    * seeded Lloyd over a bounded collected sample (cost independent of
    * corpus size past `trainCap`); deterministic for a fixed seed and
    * input partitioning. Empty/degenerate corpora yield an empty array. */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int, seed: Long = 42L,
                     trainCap: Long = 100000L, maxIter: Int = 20): Array[Array[Double]] =
    trainCoarseCentroids(df.select(col(vecCol).as("v")).withColumn("id", lit(0L))
        .select(col("id"), col("v")),
      k, seed, trainCap, maxIter, trainStride = 1).getOrElse(Array.empty)

  /** Assign every row to its argmin-distance centroid: (id, cluster).
    * One narrow scan — the centroids ride as expression literals inside
    * the codegen'd [[graft.functions.NearestCells]], so assignment never
    * shuffles and composes with any downstream groupBy (topic-balanced
    * sampling, per-cluster stats, mixture reweighting). */
  def assignClusters(df: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.nonEmpty, "assignClusters needs at least one centroid")
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), nearestCells(col("v"), centroids, 1)(0).as("cluster"))
  }

  /** Train + assign in one call: (id, cluster). The common path for topic
    * bucketing a corpus before mixture balancing. */
  def clusterAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
                    seed: Long = 42L, trainCap: Long = 100000L,
                    maxIter: Int = 20): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    trainCoarseCentroids(v, k, seed, trainCap, maxIter, trainStride = 1) match {
      case None => v.select(col("id"), lit(0).as("cluster")).limit(0)
      case Some(cs) =>
        v.select(col("id"), nearestCells(col("v"), cs, 1)(0).as("cluster"))
    }
  }

  // ---- persisted IVF index ------------------------------------------------
  // At corpus scale the coarse quantizer is trained ONCE and amortized over
  // every query batch that follows — retraining (and re-scanning the corpus
  // to assign cells) per search is the thing a 100 TB serving path cannot
  // afford. The index is plain parquet: `path/centroids` (nlist rows) and
  // `path/postings`, the corpus REWRITTEN under batch=<id>/cell=<c>
  // partitions so a search probing nprobe cells prunes to those
  // directories at the SCAN — the files for unprobed cells are never
  // opened — and a keyed re-append overwrites its own batch partition
  // instead of double-writing. The IVF-PQ index below shares this
  // postings store (its rows carry codes instead of vectors) and the
  // helpers that follow.

  /** `v` rows with their nearest coarse cell. */
  private def withCell(v: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    v.withColumn("cell", nearestCells(col("v"), centroids, 1)(0))

  /** Write postings rows (carrying `cell`) to `dir`, hive-partitioned by
    * cell after one shuffle on it, so each cell lands in O(1) files
    * rather than one file per (input task × cell), each sorted on every
    * column so the files depend only on the rows. */
  private def writeCellPostings(rows: DataFrame, dir: String): Unit =
    rows.repartition(col("cell"))
      .sortWithinPartitions(("cell" +: rows.columns.filterNot(_ == "cell")).map(col): _*)
      .write.mode("overwrite").partitionBy("cell").parquet(dir)

  /** Persist the quantizer tables under `path`, each driver-sized as one
    * file: the IVF-PQ residual codebooks (subspace, code, centroid) when
    * `books` is given, then the coarse centroids (cell, centroid) — last,
    * so a retrain's swaps end on the table every search probes with.
    * `swap` stages each table through [[ArtifactIO.rewriteInPlace]]
    * (retrain) instead of overwriting it in place (build). */
  private def writeQuantizer(spark: org.apache.spark.sql.SparkSession,
                             path: String, coarse: Array[Array[Double]],
                             books: Option[Array[Array[Array[Double]]]],
                             swap: Boolean): Unit = {
    import spark.implicits._
    val tables = books.map(bs => "codebooks" -> bs.zipWithIndex.flatMap {
        case (book, sp) =>
          book.zipWithIndex.map { case (cent, code) => (sp, code, cent.toSeq) }
      }.toSeq.toDF("subspace", "code", "centroid")).toSeq :+
      ("centroids" -> coarse.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toSeq.toDF("cell", "centroid"))
    tables.foreach { case (name, t) =>
      def write(dir: String): Unit =
        t.repartition(1).write.mode("overwrite").parquet(dir)
      if (swap) ArtifactIO.rewriteInPlace(spark, s"$path/$name")(write)
      else write(s"$path/$name")
    }
  }

  /** The queries' (query_id, qv) probe cells and the postings pruned to
    * them: each query assigns to its `nprobe` nearest cells, and the
    * distinct probe set (bounded by nlist; queries are a small broadcast
    * batch) is collected so the postings scan carries `cell IN (probed…)`
    * as a LITERAL partition filter — only the probed cells' directories
    * are read. */
  private def probeCells(postings: DataFrame, queryV: DataFrame,
                         coarse: Array[Array[Double]],
                         nprobe: Int): (DataFrame, DataFrame) = {
    val probed = queryV.select(col("query_id"),
      explode(nearestCells(col("qv"), coarse, math.min(nprobe, coarse.length)))
        .as("cell"))
    val cells = probed.select("cell").distinct().collect().map(_.getInt(0))
    (probed, postings.where(col("cell").isin(cells.map(Integer.valueOf).toSeq: _*)))
  }

  /** The keyed append both vector families share
    * ([[ArtifactIO.appendKeyed]]): after the replay check, `encoder` loads
    * the artifact's quantizer (rejecting an empty index — nothing was
    * trained) and gives the (id, v) → postings-row encoding; the batch's
    * prior generation is deleted first (mode("overwrite") only replaces
    * it fully under STATIC partitionOverwriteMode — under a session set
    * to dynamic, old-generation cells absent from the corrected data
    * would survive as stale rows), and the batch lands in its own
    * `batch=<id>` partition. Returns rows appended: the count rides the
    * pin as an observed metric, so the write and the count share one
    * scan. */
  private def appendPostings(corpus: DataFrame, idCol: String, vecCol: String,
                             path: String, batchId: Option[String], op: String)
                            (encoder: => DataFrame => DataFrame): Long = {
    val spark = corpus.sparkSession
    ArtifactIO.appendKeyed(spark, path, op, batchId) { batch =>
      val encode = encoder
      ArtifactIO.delete(spark, s"$path/postings/batch=$batch")
      val (corpusV, n) = Pin.counted(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
      writeCellPostings(encode(corpusV), s"$path/postings/batch=$batch")
      n
    }
  }

  /** Train a coarse quantizer on `corpus` and persist the index at `path`:
    * `path/centroids` = (cell INT, centroid ARRAY<DOUBLE>),
    * `path/postings/batch=<id>` = (id, v) hive-partitioned by `cell`
    * within each batch (the build's `init` plus one per append — the
    * per-batch partition is what makes keyed re-appends idempotent, see
    * [[appendIvfIndex]]). Returns the number of cells. One corpus scan
    * beyond the bounded training sample. Incremental growth:
    * [[appendIvfIndex]] assigns new rows with the loaded centroids —
    * cells stay valid, only recall-per-probe drifts as the data
    * distribution moves. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int = 16, seed: Long = 42L,
                    trainCap: Long = 100000L, maxIter: Int = 10): Int = {
    val spark = corpus.sparkSession
    ArtifactIO.rebuild(spark, path, "buildIvfIndex", Seq("postings")) {
    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val centroids = trainCoarseCentroids(corpusV, nlist, seed, trainCap, maxIter)
      .getOrElse(Array.empty[Array[Double]])
    // the nlist-row centroid write targets a different directory than the
    // corpus-sized postings write — independent job chains, overlapped
    // (build is a full overwrite and idempotent, so no crash ordering
    // between the two is load-bearing; re-run the build on a tear). The
    // leg carries the holder's lease context, like every thread staging
    // under a writer lease.
    val fMeta = ArtifactIO.leg {
      writeQuantizer(spark, path, centroids, None, swap = false)
    }
    val (_, nCells) = graft.core.Par.withLeg(fMeta) {
      if (centroids.isEmpty) {
        // empty index: zero-row postings written UNPARTITIONED (a
        // partitionBy write with no rows emits no schema-bearing file and
        // the read-back would fail inference) — search doesn't prune an
        // empty index anyway, and appends to one are rejected, so the
        // unpartitioned layout can never mix with batch partitions
        corpusV.withColumn("cell", lit(0)).limit(0)
          .write.mode("overwrite").parquet(s"$path/postings")
        0
      } else {
        writeCellPostings(withCell(corpusV, centroids), s"$path/postings/batch=init")
        centroids.length
      }
    }
    nCells
    } // lease scope
  }

  /** The persisted quantizer: cell-indexed centroid array (driver-side —
    * nlist rows by construction, so they are sorted after the collect:
    * one Spark job instead of a sort's sample, shuffle and result). */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
                       path: String): Array[Array[Double]] =
    GraftIO.readParquet(spark, s"$path/centroids").collect()
      .sortBy(_.getAs[Int]("cell"))
      .map(_.getAs[scala.collection.Seq[Double]]("centroid").toArray)

  /** Append new vectors to a [[buildIvfIndex]] artifact: rows are
    * assigned against the LOADED centroids (cells stay fixed — only
    * recall-per-probe drifts as the data distribution moves) and land in
    * the batch's OWN `batch=<id>` partition under their cell
    * subpartitions. A stable caller-supplied `batchId` (a Structured
    * Streaming batchId, an ingest date) makes retries IDEMPOTENT — the
    * batch overwrites itself instead of double-writing; the `None`
    * default generates a unique id (at-least-once; [[compactIvfIndex]]
    * heals un-keyed duplicates). Returns rows appended; appending to an
    * empty index is rejected (no quantizer was trained). */
  def appendIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     path: String, batchId: Option[String] = None): Long =
    appendPostings(corpus, idCol, vecCol, path, batchId, "appendIvfIndex") {
      val centroids = loadIvfCentroids(corpus.sparkSession, path)
      if (centroids.isEmpty)
        throw new IllegalStateException(
          s"appendIvfIndex: no trained centroids at $path (empty index)")
      withCell(_, centroids)
    }

  /** Compact an IVF or IVF-PQ artifact's postings in place (both share
    * the store): repeated appends accumulate one file set per append
    * under every cell — this folds them ([[ArtifactIO.fold]]) and
    * rewrites them in ONE shuffle to O(1) files per cell under the one
    * compact batch, dropping full-row duplicates on the way (the rows a
    * blind retry of a torn append double-writes; the index carries no
    * aggregate over postings, so the dedupe is always safe — it only
    * removes duplicate search hits). Staged and swapped rename-aside
    * (crash loses the compaction, never the postings). No-op on an
    * empty-built index. Single-writer, like append. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String): Unit =
    ArtifactIO.withWriterLease(spark, path, "compactIvfIndex") {
      val cid = ArtifactIO.fold(spark, path, Seq("postings"))
      val dir = s"$path/postings"
      val postings = GraftIO.readParquet(spark, dir)
      // the empty-built layout is unpartitioned (zero rows, no `batch`
      // column): a partitioned rewrite of it would emit no schema-bearing
      // file and corrupt the directory
      if (postings.columns.contains("batch"))
        ArtifactIO.rewriteInPlace(spark, dir)(tmp =>
          writeCellPostings(postings.drop("batch").dropDuplicates(),
            s"$tmp/batch=$cid"))
    }

  /** Retrain a [[buildIvfIndex]] artifact's coarse quantizer from its OWN
    * stored full-vector postings and re-cell everything — the remediation
    * [[IndexAdmin.ivfDriftCheck]]'s decay signal calls for, without a
    * from-scratch rebuild or re-reading the source corpus. One bounded
    * training sample + one re-cell shuffle; all current batches fold into
    * a single compact partition ([[ArtifactIO.fold]], so a keyed append
    * replayed afterwards no-ops). Both directories swap rename-aside.
    * Crash contract: a tear between the postings swap and the centroids
    * swap leaves searches probing with the old quantizer over the new
    * cell layout — DEGRADED recall, never corrupt results (scoring always
    * uses true vectors) — and re-running retrain restores consistency.
    * Readers concurrent with the swap window see the same
    * degraded-not-corrupt behavior. Single-writer, like append/compact.
    * Returns the new cell count. */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      nlist: Int = 16, seed: Long = 42L,
                      trainCap: Long = 100000L, maxIter: Int = 10): Int = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    ArtifactIO.withWriterLease(spark, path, "retrainIvfIndex") {
    val postingsDir = s"$path/postings"
    require(ArtifactIO.hasParquetData(spark, postingsDir),
      s"retrainIvfIndex: no postings at $path (empty index) — " +
        "nothing to train from; rebuild instead")
    val corpusV = GraftIO.readParquet(spark, postingsDir).select(col("id"), col("v"))
    val centroids = trainCoarseCentroids(corpusV, nlist, seed, trainCap,
        maxIter)
      .getOrElse(throw new IllegalStateException(
        s"retrainIvfIndex: postings at $path hold no finite vectors"))
    val cid = ArtifactIO.fold(spark, path, Seq("postings"))
    ArtifactIO.rewriteInPlace(spark, postingsDir)(tmp =>
      writeCellPostings(withCell(corpusV, centroids), s"$tmp/batch=$cid"))
    writeQuantizer(spark, path, centroids, None, swap = true)
    centroids.length
    } // lease scope
  }

  /** Search a persisted index without retraining or re-assigning: queries
    * assign to their `nprobe` nearest cells against the loaded centroids,
    * and the postings scan prunes to the probed cells ([[probeCells]]).
    * Result schema and ranking semantics are identical to [[ivfTopK]]
    * run with the same centroids. */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, idCol: String, vecCol: String,
                     k: Int, nprobe: Int = 4): DataFrame = {
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val centroids = loadIvfCentroids(spark, path)
    val postings = GraftIO.readParquet(spark, s"$path/postings")
    if (centroids.isEmpty)
      return topKPerQuery(
        postings.select(col("id"), col("v")).crossJoin(queryV)
          .withColumn("cosine_sim", lit(null).cast("double"))
          .limit(0), k)
    val (probed, pruned) = probeCells(postings, queryV, centroids, nprobe)
    val cand = pruned
      .join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .join(broadcast(queryV), Seq("query_id"))
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("v"), col("qv")))
    topKPerQuery(cand, k)
  }

  /** Product-quantization ANN (ADC — asymmetric distance computation):
    * `m` independent k-means codebooks over the vector's m sub-ranges
    * compress each corpus vector to m small integer codes; each query
    * precomputes one dot-product lookup table per codebook and scores a
    * corpus row with m table lookups instead of `dim` multiplies.
    *
    * Scale shape: this is the MEMORY-side scale path, complementary to
    * the candidate-pruning paths (LSH/IVF) — the scanned corpus relation
    * carries m codes + one norm (~m bytes honest payload) instead of dim
    * floats, a 16-32x smaller footprint per row for every cache, shuffle,
    * and scan at 100 TB. Codebooks train like [[ivfTopK]]'s quantizer (m
    * fits on one bounded pinned sample), ship as literals inside the
    * encode expressions and as a broadcast into the per-QUERY lut UDF
    * (one call per query row, not per pair). Scoring is pure Catalyst
    * HOFs: zip_with(codes, luts) + aggregate. The approximate top
    * `k·rerankFactor` per query (k-bounded aggregator, no window) then
    * re-ranks by EXACT cosine over just those candidate vectors — the
    * only stage that ever rejoins full vectors, k·rerankFactor·queries
    * rows wide.
    *
    * The approximate score is cosine(q, reconstruction(x)): dot(q, x̃) /
    * (|q|·|x̃|) with both terms exact in the quantized space (|x̃| is
    * precomputed per row at encode). Degenerate rows/queries (NaN, zero
    * norm, dim mismatch at slice) yield null/NaN scores and drop under
    * the shared [[topKPerQuery]] contract. `rerankFactor = 1` returns
    * approximate-score output directly (cosine_sim is then the ADC
    * estimate). Self-matches are excluded like every other path.
    *
    * SCALE: `rerankFactor` is the recall-vs-cost knob and must grow with
    * corpus size — a fixed k×rerankFactor candidate budget out of n
    * vectors loses recall as n rises because ADC near-ties multiply
    * (measured on the driver embeddings: 10× the corpus took recall@5
    * from ≥0.8 to 0.66 at rf=10; rf=20 → 0.76, rf=40 → 0.86). Rerank cost
    * is k×rf exact scores per query — scale rf before reaching for more
    * codebook bits. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 8, codebookSize: Int = 256, rerankFactor: Int = 4,
             seed: Long = 42L, trainCap: Long = 100000L, maxIter: Int = 10): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")

    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))

    // The m codebooks train DRIVER-SIDE on the collected bounded sample
    // (trainCap × dim doubles — ~50 MB at the 100k default over dim 64;
    // lower trainCap for very wide vectors). PQ training sets are bounded
    // by design, and m seeded in-memory Lloyd fits cost microseconds
    // where m MLlib fits cost m job cascades (~13 s vs ~1 s measured on
    // the m=16 gate) — the corpus-side work stays fully distributed.
    val pts = sampleTrainVecs(corpusV, trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    if (pts.isEmpty)
      return topKPerQuery(
        corpusV.crossJoin(queryV)
          .withColumn("cosine_sim", lit(null).cast("double"))
          .limit(0), k)
    val codebooks: Array[Array[Array[Double]]] =
      trainSubCodebooks(pts, m, codebookSize, maxIter, seed)

    val lens = codebooks.map(_.head.length)
    val offs = lens.scanLeft(0)(_ + _)

    // ---- encode: m codes + the reconstruction's norm, one scan pass
    // (the l2-assignment storage codec — one encoder for search AND
    // storage, see Embeddings.pqEncode) ----
    val norm2Lit = typedLit(codebooks.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    val encoded = corpusV.select(col("id"),
        Embeddings.pqEncode(col("v"), codebooks).as("codes"))
      .withColumn("xnorm", sqrt(adcLookupSum(col("codes"), norm2Lit)))

    // ---- per-query lut: dot(q_sub, centroid) for every (subspace, code) ----
    val bcCodebooks = corpus.sparkSession.sparkContext.broadcast(codebooks)
    val bcOffs = corpus.sparkSession.sparkContext.broadcast(offs)
    val lutUdf = udf { (qv: scala.collection.Seq[Float]) =>
      if (qv == null) null
      else {
        val cbs = bcCodebooks.value; val off = bcOffs.value
        if (off(cbs.length) != qv.length) null // dim mismatch -> degenerate
        else cbs.indices.map { s =>
          cbs(s).map { cent =>
            var d = 0.0; var j = 0
            while (j < cent.length) { d += cent(j) * qv(off(s) + j); j += 1 }
            d
          }.toSeq
        }
      }
    }
    val queryLut = queryV
      .withColumn("lut", lutUdf(col("qv")))
      .withColumn("qnorm", sqrt(aggregate(
        transform(col("qv"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))

    // ---- ADC scoring: m lookups + adds per (corpus row, query) ----
    val approx = encoded
      .join(broadcast(queryLut.select(col("query_id"), col("lut"), col("qnorm"))),
        col("id") =!= col("query_id"))
      .withColumn("cosine_sim",
        when(col("qnorm") > 0 && col("xnorm") > 0,
          adcLookupSum(col("codes"), col("lut")) / (col("qnorm") * col("xnorm"))))

    if (rerankFactor == 1) topKPerQuery(approx, k)
    else exactRerank(approx, corpusV, queryV, k, rerankFactor)
  }

  /** IVF-PQ (faiss-style) ANN: the [[ivfTopK]] coarse quantizer prunes
    * CANDIDATES (each query probes `nprobe` of `nlist` cells) and a
    * RESIDUAL product quantizer scores them — each corpus vector stores
    * its cell, m codes of (vector − cell centroid), and its
    * reconstruction norm, so the probed relation carries a few small
    * integers per row instead of dim floats AND only ~nprobe/nlist of
    * the corpus is ever scored per query: the compute-side (IVF) and
    * memory-side (PQ) scale paths composed.
    *
    * Scoring is exact in the quantized space: dot(q, x̃) = dot(q,
    * centroid_cell) + Σ_s dot(q_sub, pqcent_code) — the first term comes
    * from a per-query centroid-dot array, the second from the same ADC
    * lookup tables as [[pqTopK]]; |x̃| is looked up from a precomputed
    * (cell × subspace × code) norm table folded into the encode pass.
    * Both quantizers train on ONE driver-collected bounded sample
    * ([[pqTopK]]'s contract); the residual training assigns each sample
    * point to its nearest coarse centroid in memory. Approximate top
    * k·rerankFactor then re-ranks by exact cosine, all through the
    * shared k-bounded aggregator (never a window). */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
                codebookSize: Int = 256, rerankFactor: Int = 4, seed: Long = 42L,
                trainCap: Long = 100000L, maxIter: Int = 10): DataFrame = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(m >= 1, s"m must be >= 1, got $m")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")

    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))

    trainIvfPq(corpusV, nlist, m, codebookSize, seed, trainCap, maxIter) match {
      case None =>
        topKPerQuery(
          corpusV.crossJoin(queryV)
            .withColumn("cosine_sim", lit(null).cast("double"))
            .limit(0), k)
      case Some(model) =>
        val encoded = ivfpqEncode(corpusV, model)
        val queryState = ivfpqQueryState(queryV, model)
        val effNprobe = math.min(nprobe, model.coarse.length)
        // the probed relation stays (query_id, cell) — broadcasting the
        // m×k lut and qcent arrays through the ×nprobe explode would ship
        // nprobe copies of every query's tables; they join once per query
        val probed = queryState.select(col("query_id"),
          explode(nearestCells(col("qv"), model.coarse, effNprobe)).as("cell"))
        val approx = ivfpqApprox(encoded, queryState, probed)
        if (rerankFactor == 1) topKPerQuery(approx, k)
        else exactRerank(approx, corpusV, queryV, k, rerankFactor)
    }
  }

  /** The trained IVF-PQ state shared by [[ivfpqTopK]] and the persisted
    * index: coarse centroids + per-subspace residual codebooks, with the
    * derived subspace layout and the (cell × subspace × code)
    * reconstruction-norm table. */
  private[ext] final case class IvfPqModel(coarse: Array[Array[Double]],
                                           books: Array[Array[Array[Double]]]) {
    val dim: Int = coarse.head.length
    val m: Int = books.length
    val lens: Array[Int] = books.map(_.head.length)
    val offs: Array[Int] = lens.scanLeft(0)(_ + _)
    /** |x̃|² by (cell, subspace, code): |coarse_c[sub] + pqcent|² summed
      * over the subspace — nlist × m × codebookSize doubles, recomputed
      * from the persisted tables at load (never stored). */
    lazy val norm2: Seq[Seq[Seq[Double]]] = coarse.map { cc =>
      Array.tabulate(m) { sp =>
        books(sp).map { cent =>
          var s2 = 0.0; var j = 0
          while (j < cent.length) {
            val x = cc(offs(sp) + j) + cent(j); s2 += x * x; j += 1
          }
          s2
        }.toSeq
      }.toSeq
    }.toSeq
  }

  /** One bounded driver-side sample trains BOTH quantizers (pqTopK's
    * contract); residuals are assigned in memory. None on an
    * empty/degenerate corpus. */
  private def trainIvfPq(corpusV: DataFrame, nlist: Int, m: Int,
                         codebookSize: Int, seed: Long, trainCap: Long,
                         maxIter: Int): Option[IvfPqModel] = {
    val pts = sampleTrainVecs(corpusV, trainCap)
      .collect().map(_.getSeq[Double](0).toArray)
    if (pts.isEmpty) None
    else {
      val dim = pts(0).length
      require(m <= dim, s"m=$m subspaces need dim >= m, got dim=$dim")
      val coarse = localKMeansPP(pts, math.min(nlist, pts.length), maxIter, seed - 1)
      def nearestIdx(p: Array[Double]): Int = {
        var best = 0; var bd = Double.PositiveInfinity; var c = 0
        while (c < coarse.length) {
          var d2 = 0.0; var j = 0
          while (j < dim) { val t = p(j) - coarse(c)(j); d2 += t * t; j += 1 }
          if (d2 < bd) { bd = d2; best = c }
          c += 1
        }
        best
      }
      val resid = pts.map { p =>
        val cc = coarse(nearestIdx(p))
        Array.tabulate(dim)(j => p(j) - cc(j))
      }
      Some(IvfPqModel(coarse,
        trainSubCodebooks(resid, m, codebookSize, maxIter, seed)))
    }
  }

  /** Encode (id, v) to (id, cell, codes, xnorm) — cell + m residual codes
    * + reconstruction norm, one scan pass. l2 assignment like
    * Embeddings.pqEncode: residuals cluster near the origin, where cosine
    * is mostly noise and zero-norm slices (a vector AT its centroid)
    * would null out of the index entirely. */
  private def ivfpqEncode(corpusV: DataFrame, model: IvfPqModel): DataFrame = {
    val coarseLit = typedLit(model.coarse.map(_.toSeq).toSeq)
    val cellCol = nearestCells(col("v"), model.coarse, 1)(0)
    val residCol = zip_with(col("v").cast("array<double>"),
      element_at(coarseLit, col("cell") + 1), (x, c) => x - c)
    val codeCols = Array.tabulate(model.m) { sp =>
      nearestCells(slice(col("__resid"), model.offs(sp) + 1, model.lens(sp)),
        model.books(sp), 1, metric = "l2")(0)
    }
    corpusV
      .withColumn("cell", cellCol)
      .withColumn("__resid", residCol)
      .withColumn("codes", array(codeCols.toIndexedSeq: _*))
      .withColumn("xnorm", sqrt(adcLookupSum(col("codes"),
        element_at(typedLit(model.norm2), col("cell") + 1))))
      .select("id", "cell", "codes", "xnorm")
  }

  /** Per-query ADC state: residual lookup tables, per-cell centroid dots,
    * and the query norm (one UDF call per QUERY row, never per pair). */
  private def ivfpqQueryState(queryV: DataFrame, model: IvfPqModel): DataFrame = {
    val sc = queryV.sparkSession.sparkContext
    val bcBooks = sc.broadcast(model.books)
    val bcCoarse = sc.broadcast(model.coarse)
    val bcOffs = sc.broadcast(model.offs)
    val lutUdf = udf { (qv: scala.collection.Seq[Float]) =>
      val books = bcBooks.value; val off = bcOffs.value
      if (qv == null || off(books.length) != qv.length) null
      else books.indices.map { sp =>
        books(sp).map { cent =>
          var dd = 0.0; var j = 0
          while (j < cent.length) { dd += cent(j) * qv(off(sp) + j); j += 1 }
          dd
        }.toSeq
      }
    }
    val qcentUdf = udf { (qv: scala.collection.Seq[Float]) =>
      val cs = bcCoarse.value
      if (qv == null || cs.head.length != qv.length) null
      else cs.map { cc =>
        var dd = 0.0; var j = 0
        while (j < cc.length) { dd += cc(j) * qv(j); j += 1 }
        dd
      }.toSeq
    }
    queryV
      .withColumn("lut", lutUdf(col("qv")))
      .withColumn("qcent", qcentUdf(col("qv")))
      .withColumn("qnorm", sqrt(aggregate(
        transform(col("qv"), x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)))
  }

  /** Probe + ADC score only the candidates sharing a probed cell:
    * dot(q, x̃) = dot(q, centroid_cell) + Σ_s lut lookups, normalized by
    * the precomputed norms. */
  private def ivfpqApprox(encoded: DataFrame, queryState: DataFrame,
                          probed: DataFrame): DataFrame = {
    val dotSum = element_at(col("qcent"), col("cell") + 1) +
      adcLookupSum(col("codes"), col("lut"))
    encoded.join(broadcast(probed), Seq("cell"))
      .join(broadcast(queryState.select(col("query_id"), col("lut"),
        col("qcent"), col("qnorm"))), Seq("query_id"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine_sim",
        when(col("qnorm") > 0 && col("xnorm") > 0,
          dotSum / (col("qnorm") * col("xnorm"))))
  }

  // ---- persisted IVF-PQ index ---------------------------------------------
  // The PQ-compressed completion of buildIvfIndex: postings store m small
  // codes + one norm (~m bytes + 8 honest payload per vector) instead of
  // dim floats — the form a 100 TB vector corpus can actually hold — and
  // the coarse cells still hive-partition the postings so a search prunes
  // to its probed directories at the scan.

  /** Train both quantizers and persist a PQ-compressed IVF index at
    * `path`: `path/centroids` = (cell INT, centroid ARRAY<DOUBLE>),
    * `path/codebooks` = (subspace INT, code INT, centroid ARRAY<DOUBLE>),
    * `path/postings` = (id, codes ARRAY<INT>, xnorm) hive-partitioned by
    * `cell`. The reconstruction-norm table is derived from the persisted
    * quantizers at load, never stored. Returns the number of cells. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, nlist: Int = 16, m: Int = 8,
                      codebookSize: Int = 256, seed: Long = 42L,
                      trainCap: Long = 100000L, maxIter: Int = 10): Int = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(m >= 1, s"m must be >= 1, got $m")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    val spark = corpus.sparkSession
    ArtifactIO.rebuild(spark, path, "buildIvfPqIndex", Seq("postings")) {
    val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val modelOpt = trainIvfPq(corpusV, nlist, m, codebookSize, seed,
      trainCap, maxIter)
    // the driver-sized quantizer-table writes target different
    // directories than the corpus-sized encode+write — independent job
    // chains, overlapped as in buildIvfIndex
    val fMeta = ArtifactIO.leg {
      writeQuantizer(spark, path,
        modelOpt.map(_.coarse).getOrElse(Array.empty[Array[Double]]),
        Some(modelOpt.map(_.books).getOrElse(Array.empty[Array[Array[Double]]])),
        swap = false)
    }
    val (_, nCells) = graft.core.Par.withLeg(fMeta) {
      modelOpt match {
        case None =>
          // empty index: zero-row postings written UNPARTITIONED (same
          // schema-bearing-file guard as buildIvfIndex; appends to an
          // empty index are rejected, so layouts can never mix)
          corpusV.select(col("id"), lit(null).cast("array<int>").as("codes"),
              lit(null).cast("double").as("xnorm"), lit(0).as("cell"))
            .limit(0).write.mode("overwrite").parquet(s"$path/postings")
          0
        case Some(model) =>
          writeCellPostings(ivfpqEncode(corpusV, model), s"$path/postings/batch=init")
          model.coarse.length
      }
    }
    nCells
    } // lease scope
  }

  /** Load the persisted quantizers back (both driver-sized by
    * construction: nlist + m × codebookSize rows, sorted after the
    * collect — cell and (subspace, code) are unique keys). */
  def loadIvfPqModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): Option[IvfPqModel] = {
    val coarse = loadIvfCentroids(spark, path)
    if (coarse.isEmpty) return None
    val books = GraftIO.readParquet(spark, s"$path/codebooks").collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toArray))
      .sortBy(b => (b._1, b._2))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._3)).toArray
    Some(IvfPqModel(coarse, books))
  }

  /** Append new vectors to a [[buildIvfPqIndex]] artifact: rows are
    * assigned and encoded with the LOADED quantizers (train-once
    * contract — cells and codebooks stay fixed; only recall-per-probe
    * drifts as the data distribution moves) and land in the batch's OWN
    * `batch=<id>` partition under their cell subpartitions. A stable
    * `batchId` makes retries IDEMPOTENT (the batch overwrites itself);
    * the `None` default is at-least-once, healed by
    * [[compactIvfIndex]]. Returns the number of rows appended;
    * appending to an empty index is rejected (nothing was trained to
    * encode with). */
  def appendIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       path: String, batchId: Option[String] = None): Long =
    appendPostings(corpus, idCol, vecCol, path, batchId, "appendIvfPqIndex") {
      val model = loadIvfPqModel(corpus.sparkSession, path).getOrElse(
        throw new IllegalStateException(
          s"appendIvfPqIndex: no trained quantizers at $path (empty index)"))
      ivfpqEncode(_, model)
    }

  /** Retrain a [[buildIvfPqIndex]] artifact from a CALLER-SUPPLIED
    * full-vector corpus — PQ postings hold only codes (not invertible),
    * so unlike [[retrainIvfIndex]] the artifact cannot retrain from
    * itself: `vectors` must be the complete corpus the index should
    * serve (base + every appended batch; rows absent from it fall out of
    * the index, which doubles as re-ingest-time cleanup). Both
    * quantizers retrain, the supplied corpus re-encodes into a single
    * compact batch, and the three directories swap rename-aside
    * (postings, then codebooks, then centroids — the two quantizer dirs
    * are tiny, shrinking the mixed window). The batches fold first
    * ([[ArtifactIO.fold]]) so keyed replays no-op afterwards. Crash
    * contract: a tear between swaps leaves ADC scoring against a
    * mismatched quantizer — recall degrades (badly) until retrain
    * re-runs, but nothing is lost or corrupted on disk; re-running
    * restores consistency. Single-writer. Returns the new cell count. */
  def retrainIvfPqIndex(vectors: DataFrame, idCol: String, vecCol: String,
                        path: String, nlist: Int = 16, m: Int = 8,
                        codebookSize: Int = 256, seed: Long = 42L,
                        trainCap: Long = 100000L, maxIter: Int = 10): Int = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    require(m >= 1, s"m must be >= 1, got $m")
    require(codebookSize >= 1, s"codebookSize must be >= 1, got $codebookSize")
    val spark = vectors.sparkSession
    ArtifactIO.withWriterLease(spark, path, "retrainIvfPqIndex") {
    require(ArtifactIO.hasParquetData(spark, s"$path/postings"),
      s"retrainIvfPqIndex: no postings at $path (empty index) — " +
        "build instead")
    val corpusV = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val model = trainIvfPq(corpusV, nlist, m, codebookSize, seed,
        trainCap, maxIter)
      .getOrElse(throw new IllegalArgumentException(
        "retrainIvfPqIndex: the supplied corpus holds no finite vectors"))
    val cid = ArtifactIO.fold(spark, path, Seq("postings"))
    ArtifactIO.rewriteInPlace(spark, s"$path/postings")(tmp =>
      writeCellPostings(ivfpqEncode(corpusV, model), s"$tmp/batch=$cid"))
    writeQuantizer(spark, path, model.coarse, Some(model.books), swap = true)
    model.coarse.length
    } // lease scope
  }

  /** Remove one appended batch from an IVF or IVF-PQ artifact (both
    * share the postings store): the batch's whole partition disappears
    * in one directory delete. Dropping an absent id is a no-op. */
  def dropIndexBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                     batchId: String): Unit =
    ArtifactIO.dropBatch(spark, path, "dropIndexBatch",
      Seq(s"postings/batch=$batchId"))

  /** Search a persisted IVF-PQ index: queries assign to their `nprobe`
    * nearest cells against the loaded centroids, the postings scan
    * prunes to the probed cells ([[probeCells]] — and each row read is
    * m codes + a norm, not dim floats), and ADC scoring/ranking proceed exactly as
    * [[ivfpqTopK]] with the same quantizers. `rerank` re-scores the
    * approximate top k·rerankFactor by exact cosine against the given
    * (idCol, vecCol) relation — the only stage that touches full
    * vectors; pass the source corpus (or None to return ADC-scored
    * output directly, rerankFactor ignored). SCALE: rerankFactor is the
    * recall dial and must grow with corpus size (pqTopK's contract —
    * rf=20 holds the 0.7 floor through sf1). */
  def searchIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nprobe: Int = 4, rerankFactor: Int = 4,
                       rerank: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, s"searchIvfPqIndex needs k >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val queryV = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val postings = GraftIO.readParquet(spark, s"$path/postings")
    loadIvfPqModel(spark, path) match {
      case None =>
        topKPerQuery(
          postings.select(col("id")).crossJoin(queryV)
            .withColumn("cosine_sim", lit(null).cast("double"))
            .limit(0), k)
      case Some(model) =>
        val queryState = ivfpqQueryState(queryV, model)
        val (probed, pruned) = probeCells(postings, queryV, model.coarse, nprobe)
        val approx = ivfpqApprox(pruned, queryState, probed)
        rerank match {
          case None => topKPerQuery(approx, k)
          case Some(corpus) =>
            val corpusV = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
            exactRerank(approx, corpusV, queryV, k, rerankFactor)
        }
    }
  }

  /** Σ_s table(s)(codes(s)) — the ADC inner loop as a pure Catalyst HOF
    * (m lookups + adds per row; null codes/tables null-propagate into the
    * degenerate-drop contract). */
  private def adcLookupSum(codes: Column, table: Column): Column =
    aggregate(zip_with(codes, table, (c, arr) => element_at(arr, c + 1)),
      lit(0.0), (acc, x) => acc + x)

  /** Shared tail of the quantized paths: k-bounded approximate top
    * k·rerankFactor, then EXACT cosine over just those candidates'
    * re-joined vectors. */
  private def exactRerank(approx: DataFrame, corpusV: DataFrame,
                          queryV: DataFrame, k: Int, rerankFactor: Int): DataFrame = {
    val cand = topKPerQuery(approx, k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    // neighbor_id came back widened (long) or rendered (string): align the
    // corpus id the same way topKPerQuery did to join the vectors back
    val joinId = corpusV.schema("id").dataType match {
      case ByteType | ShortType | IntegerType | LongType => col("id").cast(LongType)
      case _ => col("id").cast(StringType)
    }
    val rer = cand
      .join(corpusV.withColumn("__jid", joinId), col("neighbor_id") === col("__jid"))
      .join(broadcast(queryV), Seq("query_id"))
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("v"), col("qv")))
      .select(col("id"), col("query_id"), col("cosine_sim"))
    topKPerQuery(rer, k)
  }
}
