package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import graft.sources.GraftIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persisted dedup index — the build-once/append-many artifact for the
  * append-a-crawl loop.
  *
  * [[Dedup.newAgainst]] and [[Dedup.minhashNewAgainst]] are correct but
  * re-fingerprint / re-shingle the ENTIRE accumulated corpus on every
  * call: at a 100×-appended corpus that recomputation dominates every
  * batch (measured 10.8× wall for 10× data at sf1). This module persists
  * the derived relations ONCE and appends per batch, so an incremental
  * dedup pass costs ~the incoming side only:
  *
  * {{{
  *   path/params        one row (num_hashes, bands, shingle_len, seed,
  *                      bloom_fpp) — the artifact owns its parameters; a
  *                      search can never band incoming text with a
  *                      mismatched scheme
  *   path/fingerprints/batch=<id>/  (id, fp)         8-byte farm prints
  *   path/shingles/batch=<id>/      (id, sh)         sorted distinct
  *                                                   shingle hashes
  *   path/bands/batch=<id>/         (id, band, bsig) banded signatures
  *   path/bloom_fp/     seg-<id>.bin   one Bloom segment per batch
  *   path/bloom_band/   seg-<id>.bin   over fp / (band,bsig) keys
  * }}}
  *
  * Every batch — the build's and each append's — lands in its OWN hive
  * partition (`batch=<id>`) and a deterministically-named Bloom
  * segment, written as a direct per-partition overwrite. That makes an
  * append with a caller-supplied `batchId` IDEMPOTENT: a blind retry of
  * a torn or doubted append overwrites its own partition and segment
  * instead of double-writing (the exactly-once pattern Structured
  * Streaming's foreachBatch expects — pass the stream's batchId).
  * Auto-generated ids (the default) keep plain at-least-once appends,
  * where a blind retry duplicates rows until [[compact]] heals them.
  * Reads discover `batch` as a partition column and ignore it.
  *
  * Blooms are SEGMENTED, not merged: each build/append writes one
  * segment sized to its own batch, and a probe checks "any segment
  * contains" — no false negatives, and appends never rewrite or resize
  * an existing filter. When the summed segment bytes exceed
  * [[MaxBloomBytes]] the search paths skip Bloom pruning entirely (the
  * equi-joins alone are still exact) rather than ship a corpus-sized
  * filter to every task — logged, never silent.
  *
  * Search-time knobs (`threshold`, `maxBucketSize`) are deliberately NOT
  * artifact parameters: the banding scheme fixes the recall envelope,
  * while the verification threshold is a per-query choice over the same
  * candidates — one index serves any threshold at or above its envelope.
  *
  * Writer concurrency and batch lifecycle: build, append, compact and
  * dropBatch are [[ArtifactIO]]'s four lifecycle steps (single writer,
  * under the `_writer_lock` lease; see its header). Readers (newAgainst,
  * minhashNewAgainst, nearDuplicateFlag) never take the lease.
  *
  * Scale shape: the per-batch build cost is the same shingle+band pass
  * the direct operators pay for that batch; the serve cost reads the
  * stored relations columnar (24 B/row bands, ~2.5 KB/doc shingles — and
  * only candidate ids' shingles survive the semi-structure of the pair
  * join) instead of re-deriving them from corpus text. Rebuild-vs-append
  * equivalence is exact: the stored relations are unions of per-batch
  * relations, and every downstream operator is defined per-row on them
  * (spec-locked in DedupIndexSpec).
  */
object DedupIndex {

  /** The artifact's banding parameters (read back by every search). */
  final case class Params(numHashes: Int, bands: Int, shingleLen: Int,
                          seed: Int, bloomFpp: Double)

  /** Skip Bloom pruning once the summed segment bytes pass this: a
    * corpus-scale filter set would be broadcast to every task and
    * resident per executor; past ~0.5 GB the exact equi-join (whose
    * existing side is the stored 8-byte key relation, not text) is the
    * better trade. */
  val MaxBloomBytes: Long = 512L << 20

  private val FpBloomDir = "bloom_fp"
  private val BandBloomDir = "bloom_band"
  /** The batch-partitioned relations, in the order a batch's partitions
    * are deleted (shingles before bands, see [[writeBatch]]). */
  private val Relations = Seq("shingles", "fingerprints", "bands")

  /** Create (or replace) the index at `path` from `df`. Returns the
    * number of documents indexed. Parameters are persisted in the
    * artifact; [[append]] and the searches read them back from there. */
  def build(df: DataFrame, idCol: String, textCol: String, path: String,
            numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
            seed: Int = 0, bloomFpp: Double = 0.01): Long = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(bloomFpp > 0 && bloomFpp <= 0.5,
      s"bloomFpp must be in (0, 0.5], got $bloomFpp")
    val spark = df.sparkSession
    import spark.implicits._
    ArtifactIO.rebuild(spark, path, "DedupIndex.build",
        Relations ++ Seq(FpBloomDir, BandBloomDir)) {
      Seq((numHashes, bands, shingleLen, seed, bloomFpp))
        .toDF("num_hashes", "bands", "shingle_len", "seed", "bloom_fpp")
        .repartition(1).write.mode("overwrite").parquet(s"$path/params")
      writeBatch(df, idCol, textCol, path,
        Params(numHashes, bands, shingleLen, seed, bloomFpp), batch = "init")
    }
  }

  /** Append a new batch to an existing index (parameters come from the
    * artifact). Returns the number of documents appended. The caller owns
    * cross-batch id uniqueness and schema stability (same id type per
    * append — parquet unions the partitions as written).
    *
    * `batchId` is the idempotence key: a stable caller-supplied id (a
    * Structured Streaming batchId, an ingest date, a crawl segment name)
    * makes retries safe — the batch overwrites ITS OWN `batch=<id>`
    * partitions and `seg-<id>.bin` Bloom segment, so running the same
    * append twice leaves the index exactly as running it once (and
    * re-running it with corrected data REPLACES the batch). Once a
    * [[compact]] folds the batch away its id is CONSUMED: a later
    * append under it no-ops (the folded ledger treats it as a
    * post-compaction replay) — corrected data needs a fresh id. The
    * `None` default generates a unique id per call: plain at-least-once
    * appends, where a blind retry duplicates rows until [[compact]]
    * heals them. */
  def append(df: DataFrame, idCol: String, textCol: String, path: String,
             batchId: Option[String] = None): Long = {
    val spark = df.sparkSession
    ArtifactIO.appendKeyed(spark, path, "DedupIndex.append", batchId) { batch =>
      writeBatch(df, idCol, textCol, path, readParams(spark, path), batch)
    }
  }

  /** Remove one batch from the index: its three relation partitions,
    * then its Bloom segments (data FIRST — a tear between the deletes
    * leaves orphaned bloom coverage, false positives the exact joins
    * absorb; segments-first would leave uncovered keys, silent false
    * negatives). The surgical heal for an un-keyed append that
    * double-wrote, and the retention knob for time-keyed batches.
    * Dropping an id that is not present is a no-op. Single-writer. */
  def dropBatch(spark: SparkSession, path: String, batchId: String): Unit =
    ArtifactIO.dropBatch(spark, path, "DedupIndex.dropBatch",
      Relations.map(r => s"$r/batch=$batchId") ++
        Seq(FpBloomDir, BandBloomDir).map(d => s"$d/seg-$batchId.bin"))

  /** Compact the index in place. Three effects, one pass per relation:
    *
    *  1. every relation drops duplicates on its DATA columns (the
    *     `batch` partition key excluded) — exactly the rows a blind
    *     auto-id retry of a torn append double-writes (duplicated
    *     shingle rows would otherwise duplicate verified pairs), so
    *     compaction is the RECOVERY step after an un-keyed re-append;
    *  2. the accumulated per-batch partitions collapse into ONE
    *     `batch=<compact-id>` partition of ~`targetBytes`-sized files
    *     (both the small-file count and the partition-discovery listing
    *     stop growing with append count);
    *  3. the per-batch Bloom segments are REBUILT from the compacted
    *     relations into ONE segment each — consolidating N per-append
    *     segments (whose summed bytes would eventually pass
    *     [[MaxBloomBytes]] and turn pruning off) and restoring exact
    *     bloom==data coverage after a tear (keys whose data never
    *     arrived stop flagging).
    *
    * Crash-safe by the same rename-aside contract as every compactor
    * here ([[ArtifactIO.rewriteInPlace]]), and ordered so the
    * no-false-negatives invariant holds at every instant: relations swap
    * first (dedupe never drops a KEY, so the old Bloom segments still
    * cover everything), blooms swap last. Does NOT fix a torn BUILD
    * (mixed-generation relations) — re-run the build. Single-writer.
    * Returns the number of documents retained. */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 256L << 20): Long = {
    ArtifactIO.withWriterLease(spark, path, "DedupIndex.compact") {
    val p = readParams(spark, path)
    val cid = ArtifactIO.fold(spark, path, Relations)
    // the three relation rewrites are independent (dedupe never drops a
    // KEY, so no cross-relation order is load-bearing while the old
    // blooms still cover everything) — they stage and swap as concurrent
    // legs, each under the holder's propagated lease context so its
    // staging path keeps the token suffix and its swap stays fenced
    // (ArtifactIO.leg — the registry is a ThreadLocal)
    val relLegs = Relations.map { name =>
      ArtifactIO.leg {
        val dir = s"$path/$name"
        // parallelism floor: these are SERVE-path relations — compacting a
        // mid-size relation into 1-2 size-target files collapses every
        // downstream search scan to 1-2 tasks (r19 sf10: a 6 s straggler)
        val n = ArtifactIO.targetFileCount(spark, dir, targetBytes,
          parallelismFloor = spark.sparkContext.defaultParallelism)
        val df0 = GraftIO.readParquet(spark, dir)
        val df = df0.dropDuplicates(df0.columns.filterNot(_ == "batch").toSeq)
          .drop("batch")
        ArtifactIO.rewriteInPlace(spark, dir)(tmp =>
          df.repartition(n).write.mode("overwrite").parquet(s"$tmp/batch=$cid"))
      }
    }
    // settle every leg before leaving (even when one throws): an
    // un-awaited leg would keep staging after the lease scope exits and
    // race the next holder (its swap would still fence, but the churn
    // and the half-staged tmp are avoidable)
    graft.core.Par.settleAll(relLegs)
    // blooms swap LAST (the compact-wide relations-then-blooms order is
    // the crash contract); the two rebuilds cover disjoint search paths
    // and run as concurrent legs under the same propagated context
    val fpLeg = ArtifactIO.leg {
      val fps = GraftIO.readParquet(spark, s"$path/fingerprints")
      // exact census from the freshly-compacted files' footers — a
      // driver-side metadata read instead of a full count() scan (the
      // bloom build below is the only Spark job left on this leg)
      val nDocs = ArtifactIO.parquetRowCount(spark, s"$path/fingerprints")
      ArtifactIO.rewriteInPlace(spark, s"$path/$FpBloomDir") { tmp =>
        ArtifactIO.fs(spark, tmp).mkdirs(new org.apache.hadoop.fs.Path(tmp))
        if (nDocs > 0)
          writeBloomSegment(spark, tmp,
            fps.stat.bloomFilter("fp", nDocs, p.bloomFpp), cid)
      }
      nDocs
    }
    val bandLeg = ArtifactIO.leg {
      val banded = GraftIO.readParquet(spark, s"$path/bands")
      val nBands = ArtifactIO.parquetRowCount(spark, s"$path/bands")
      ArtifactIO.rewriteInPlace(spark, s"$path/$BandBloomDir") { tmp =>
        ArtifactIO.fs(spark, tmp).mkdirs(new org.apache.hadoop.fs.Path(tmp))
        if (nBands > 0)
          writeBloomSegment(spark, tmp,
            banded.select(fieldHash(Seq(col("band"), col("bsig"))).as("__bk"))
              .stat.bloomFilter("__bk", nBands, p.bloomFpp), cid)
      }
    }
    val (nDocs, _) = graft.core.Par.settle2(fpLeg, bandLeg)
    nDocs
    } // lease scope
  }

  /** The persisted parameter row. */
  def readParams(spark: SparkSession, path: String): Params = {
    val r = GraftIO.readParquet(spark, s"$path/params").head()
    Params(r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"),
      r.getAs[Int]("shingle_len"), r.getAs[Int]("seed"),
      r.getAs[Double]("bloom_fpp"))
  }

  /** Write order is a crash-safety contract PER SEARCH PATH, not
    * incidental: within each path the Bloom SEGMENT lands first (a torn
    * batch then leaves blooms covering keys whose data never arrived —
    * FALSE POSITIVES only, which the exact joins absorb; data-before-
    * bloom would instead leave uncovered keys whose duplicates sail
    * through the "bloom miss = definitely new" fast path — silent false
    * negatives). Shingles land before bands for the same reason: a band
    * row whose shingles are missing would drop its candidate pair at
    * the verify join, while shingles with no band rows are merely
    * unreachable. The EXACT path (fp bloom → fingerprints) and the NEAR
    * path (band bloom → shingles → bands) are read by disjoint searches
    * and carry no cross-path ordering constraint, so they land as two
    * concurrent legs — a tear leaves each path individually in a
    * false-positive-only prefix of its own order. An APPEND that tears is therefore
    * safe to search (extra bloom coverage, missing tail data) but
    * half-written — recover by RE-APPENDING: under a stable batch id the
    * retry is a clean per-partition overwrite (exactly-once), under an
    * auto id it double-writes and [[compact]] heals the duplicates. A
    * torn BUILD is not safe to search (its first step deletes the prior
    * batches and blooms) — re-run the build, which is a full overwrite
    * and idempotent.
    *
    * Every relation write targets the batch's OWN partition directory
    * (`dir/batch=<id>`) with a static overwrite — never the relation
    * root — so batches can only ever replace themselves, and a zero-row
    * batch still leaves a schema-bearing file (the empty-index layout
    * stays readable and consistently partitioned). */
  private def writeBatch(df: DataFrame, idCol: String, textCol: String,
                         path: String, p: Params, batch: String): Long = {
    val spark = df.sparkSession
    // the EXACT path's relation (fingerprints) and the NEAR path's
    // relations (shingles/bands) derive independently from `df` and are
    // read by disjoint searches — their computation and their writes run
    // as two concurrent job-submission legs, each preserving ITS OWN
    // crash order (see the write-order scaladoc above)
    val fFps = ArtifactIO.leg {
      // pinned: the fingerprint relation feeds the bloom build and the
      // write (same Pin lifecycle as Dedup); the bloom-sizing count RIDES
      // the pin as an observed metric instead of paying its own
      // scheduler round trip (guide §1.2-1)
      Pin.counted(df.select(col(idCol).as("id"),
        farmHash64(col(textCol)).as("fp")))
    }
    // Par.withLeg settles the fingerprint leg even when the shingle pass
    // throws: an un-awaited leg would keep running after the lease scope
    // exits and race the next holder's batch overwrite
    val ((fps, nDocs), (sh, banded, nBands)) = graft.core.Par.withLeg(fFps) {
      Dedup.shingleBandedCounted(df, idCol, textCol,
        p.numHashes, p.bands, p.shingleLen, p.seed)
    }
    // a keyed RE-append may replace a previous generation of this batch
    // with DIFFERENT data: the old relation partitions must go before
    // the new blooms land, or a tear between bloom-overwrite and
    // relation-overwrite would leave live OLD rows that no segment
    // covers — silent false negatives. Deleting first keeps every crash
    // window false-positive-only: old rows gone + old blooms stale is
    // just extra coverage. (No-op for a fresh id.)
    Relations.foreach(r => ArtifactIO.delete(spark, s"$path/$r/batch=$batch"))
    // each leg runs under the holder's propagated lease context and
    // fences at entry AND immediately before every destructive write:
    // the bloom builds are full Spark scans that can run long, so an
    // entry fence alone would let an overstaying writer (taken over past
    // the staleness window mid-scan) still clobber the new holder's
    // bloom segments and batch partitions — re-fencing at each commit
    // point is the same pattern rewriteInPlace follows before its rename
    val exactLeg = ArtifactIO.leg {
      ArtifactIO.fenceOrAbort(spark, path)
      if (nDocs > 0) {
        val bloom = fps.stat.bloomFilter("fp", nDocs, p.bloomFpp)
        ArtifactIO.fenceOrAbort(spark, path)
        writeBloomSegment(spark, s"$path/$FpBloomDir", bloom, batch)
      }
      ArtifactIO.fenceOrAbort(spark, path)
      fps.write.mode("overwrite").parquet(s"$path/fingerprints/batch=$batch")
    }
    val nearLeg = ArtifactIO.leg {
      ArtifactIO.fenceOrAbort(spark, path)
      // bloom sizing: nBands rode the banded pin as an observed metric
      if (nBands > 0) {
        val bloom = banded
          .select(fieldHash(Seq(col("band"), col("bsig"))).as("__bk"))
          .stat.bloomFilter("__bk", nBands, p.bloomFpp)
        ArtifactIO.fenceOrAbort(spark, path)
        writeBloomSegment(spark, s"$path/$BandBloomDir", bloom, batch)
      }
      ArtifactIO.fenceOrAbort(spark, path)
      sh.write.mode("overwrite").parquet(s"$path/shingles/batch=$batch")
      ArtifactIO.fenceOrAbort(spark, path)
      banded.write.mode("overwrite").parquet(s"$path/bands/batch=$batch")
    }
    // settle both legs before leaving, propagating the first failure
    // only after the other leg has stopped writing (Par contract)
    graft.core.Par.settleAll(Seq(exactLeg, nearLeg))
    nDocs
  }

  /** Incremental EXACT dedup against the index: the rows of `incoming`
    * whose `textCol` fingerprint is not already indexed — semantics
    * identical to [[Dedup.newAgainst]] (same fingerprint-equality
    * contract, nulls included), but the existing side is the stored
    * (id, fp) relation: the accumulated corpus text is never re-read.
    * Bloom-miss rows (the typical novel majority) exit at the scan with
    * no shuffle; only flagged rows pay the exact anti join. */
  def newAgainst(spark: SparkSession, path: String, incoming: DataFrame,
                 textCol: String): DataFrame = {
    val exFp = GraftIO.readParquet(spark, s"$path/fingerprints")
      .select(col("fp").as("__fp"))
    val blooms = loadBloomSegments(spark, s"$path/$FpBloomDir")
    val flagged0 = incoming.withColumn("__fp", farmHash64(col(textCol)))
    if (blooms.isEmpty)
      // empty index, or pruning declined past MaxBloomBytes: the plain
      // anti join alone is exact
      flagged0.join(exFp, Seq("__fp"), "left_anti").drop("__fp")
    else {
      val bc = spark.sparkContext.broadcast(blooms)
      val might = udf { (fp: Long) => bc.value.exists(_.mightContainLong(fp)) }
      val flagged = flagged0.withColumn("__might", might(col("__fp")))
      flagged.filter(!col("__might"))
        .unionByName(flagged.filter(col("__might"))
          .join(exFp, Seq("__fp"), "left_anti"))
        .drop("__fp", "__might")
    }
  }

  /** Incremental NEAR-dup detection against the index: (id_new, id_old,
    * jaccard) pairs exactly as [[Dedup.minhashNewAgainst]] would produce
    * with the artifact's banding parameters — pair-for-pair equal by
    * construction (spec-locked), but the existing side's shingle and
    * band relations are READ, not re-derived: the indexed corpus text is
    * never touched. Incoming is shingled+banded with the artifact's own
    * parameters; `threshold` must sit at or above the recall envelope of
    * the artifact's (bands, rows-per-band) choice. */
  def minhashNewAgainst(spark: SparkSession, path: String,
                        incoming: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.8, maxBucketSize: Int = 1000,
                        broadcastVerify: Option[Boolean] = None,
                        broadcastVerifyMaxRows: Long = 1000000L): DataFrame = {
    val p = readParams(spark, path)
    val bandedEx = GraftIO.readParquet(spark, s"$path/bands")
    val shEx = GraftIO.readParquet(spark, s"$path/shingles")
    // the incoming shingle+band+pin chain and the artifact-side reads
    // (bloom segments, the stored bands' narrow columnar count) are
    // independent — concurrent submissions, like the direct operator
    val fIn = ArtifactIO.leg {
      // the broadcast-sizing count rides the banded pin as an observed
      // metric — no separate count job on this leg
      Dedup.shingleBandedCounted(incoming, idCol, textCol,
        p.numHashes, p.bands, p.shingleLen, p.seed)
    }
    val ((shIn, bandedIn, nInBands), (blooms, nExBands)) =
      graft.core.Par.withLeg(fIn) {
        // both artifact-side reads are driver-side metadata/segment IO:
        // the stored bands' count comes from parquet footers, not a scan
        (loadBloomSegments(spark, s"$path/$BandBloomDir"),
          ArtifactIO.parquetRowCount(spark, s"$path/bands"))
      }
    val bandKey = fieldHash(Seq(col("band"), col("bsig")))
    val prunedIn =
      if (blooms.isEmpty) bandedIn
      else {
        val bc = spark.sparkContext.broadcast(blooms)
        val might = udf { (k: Long) => bc.value.exists(_.mightContainLong(k)) }
        bandedIn.filter(might(bandKey))
      }

    val buckets = bandedEx.groupBy("band", "bsig").count()
      .filter(col("count") <= maxBucketSize)
    val pairs = prunedIn
      .select(col("band"), col("bsig"), col("id").as("id_new"))
      .join(buckets, Seq("band", "bsig"))
      .join(bandedEx.select(col("band"), col("bsig"), col("id").as("id_old")),
        Seq("band", "bsig"))
      .select(col("id_new"), col("id_old"))
      .dropDuplicates("id_new", "id_old")

    // size on the LARGER side, as the direct operator does (both side
    // tables ride the same broadcast hint); both counts rode the
    // overlapped legs above
    val doBroadcast = broadcastVerify.getOrElse(
      Dedup.autoBroadcastVerify("DedupIndex.minhashNewAgainst",
        math.max(nExBands, nInBands) / p.bands,
        broadcastVerifyMaxRows, estBytesPerRow = 2560L))
    def side(sh: DataFrame, n: String) = {
      val s0 = sh.select(col("id").as(n), col("sh").as(s"shh_$n"))
      if (doBroadcast) broadcast(s0) else s0
    }
    pairs
      .join(side(shIn, "id_new"), "id_new")
      .join(side(shEx, "id_old"), "id_old")
      .filter(least(size(col("shh_id_new")), size(col("shh_id_old"))) >=
        lit(threshold) * greatest(size(col("shh_id_new")), size(col("shh_id_old"))))
      .withColumn("jaccard", jaccardSorted(col("shh_id_new"), col("shh_id_old")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** The streaming-liftable EXACT-duplicate flag served from the
    * artifact: a pure column expression probing the index's fingerprint
    * Bloom segments — [[Dedup.maybeDuplicateFlag]] with the filter
    * loaded from disk instead of rebuilt from the corpus per query
    * start. `false` is definitive (no false negatives across segments);
    * `true` means duplicate or ~fpp noise — route flagged rows through
    * [[newAgainst]] when exactness matters. Segments load ONCE at call
    * time and ship in the closure; re-call after appends to pick up new
    * segments. Throws past [[MaxBloomBytes]] (a streaming probe cannot
    * fall back to a join — use the batch path there). */
  def duplicateFlag(spark: SparkSession, path: String): Column => Column = {
    val blooms = loadBloomSegments(spark, s"$path/$FpBloomDir", strict = true)
    val probe = udf { (fp: Long) => blooms.exists(_.mightContainLong(fp)) }
    text => probe(farmHash64(text))
  }

  /** The streaming-liftable NEAR-duplicate flag served from the
    * artifact: [[Dedup.maybeNearDuplicateFlag]] with the band-signature
    * Bloom segments AND the banding parameters loaded from the index —
    * the probe can never band incoming text with a mismatched scheme.
    * Null/empty text is definitively false; `true` means candidate —
    * verify through [[minhashNewAgainst]] when precision matters.
    * Throws past [[MaxBloomBytes]] like [[duplicateFlag]]. */
  def nearDuplicateFlag(spark: SparkSession, path: String): Column => Column = {
    val p = readParams(spark, path)
    val blooms = loadBloomSegments(spark, s"$path/$BandBloomDir", strict = true)
    text => Dedup.bandKeyFlag(text, p.numHashes, p.bands, p.shingleLen,
      p.seed, k => blooms.exists(_.mightContainLong(k)))
  }

  // ---- artifact IO --------------------------------------------------------

  /** One segment per batch, named by the batch id so an idempotent
    * retry OVERWRITES its own segment instead of stacking another. */
  private def writeBloomSegment(spark: SparkSession, dir: String,
                                bloom: BloomFilter, batch: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, s"seg-$batch.bin")
    val out = ArtifactIO.fs(spark, dir).create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  /** All Bloom segments under `dir`; an absent/empty dir is an empty
    * index (flags/prunes nothing). Past [[MaxBloomBytes]] the batch
    * paths (`strict = false`) DECLINE pruning with a log line — their
    * exact joins stand alone — while the streaming flags
    * (`strict = true`) THROW: a per-row probe has no join to fall back
    * to. */
  private def loadBloomSegments(spark: SparkSession, dir: String,
                                strict: Boolean = false): Array[BloomFilter] = {
    val f = ArtifactIO.fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!f.exists(p)) return Array.empty
    val files = f.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".bin"))
    val totalBytes = files.map(_.getLen).sum
    if (totalBytes > MaxBloomBytes) {
      if (strict)
        throw new IllegalStateException(
          s"DedupIndex flag: ${totalBytes >> 20} MiB of bloom segments at " +
            s"$dir exceeds the ${MaxBloomBytes >> 20} MiB closure budget — " +
            "use the batch newAgainst/minhashNewAgainst paths instead")
      System.err.println(s"[graft] DedupIndex: ${totalBytes >> 20} MiB of " +
        s"bloom segments at $dir exceeds the ${MaxBloomBytes >> 20} MiB " +
        "broadcast budget — skipping Bloom pruning (exact joins only)")
      return Array.empty
    }
    files.map { st =>
      val in = f.open(st.getPath)
      try BloomFilter.readFrom(in) finally in.close()
    }
  }
}
