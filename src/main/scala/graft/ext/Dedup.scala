package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Engine extension beyond the reference (SURVEY §7.1 module 7): exact
  * dedup, MinHash-LSH near-dup, SimHash near-dup, and n-gram Jaccard
  * verification — all bucket-first, NEVER all-pairs:
  *
  *   - candidate generation groups by a band/chunk hash, so at 100 TB the
  *     shuffle is O(docs × bands), not O(docs²);
  *   - the within-bucket pair fan-out is bounded per bucket; buckets larger
  *     than `maxBucketSize` (boilerplate pathologies) are dropped from
  *     candidate generation — a standard production guard; use
  *     [[Dedup.oversizedBuckets]] to audit what was dropped;
  *   - verification (exact Jaccard / Hamming) runs only on candidates.
  *
  * Cache lifecycle: the near-dup operators pin small intermediate
  * relations (hashed shingles, band/chunk signatures) with
  * [[graft.core.Pin]] so multi-branch plans evaluate the signature pass
  * once. A pin is an EAGER `localCheckpoint`, not `persist`, so no
  * plan-keyed cache entry outlives the call. Inside a `Pin.scope` (every
  * `graft` CLI command runs in one) the scope releases the pins when it
  * exits; outside one the ContextCleaner reclaims them once the returned
  * DataFrame is garbage-collected. (Cost: the signature pass runs when
  * the operator is CALLED, not when the result is first consumed.) On a
  * real cluster prefer reliable checkpoints for multi-hour jobs that must
  * survive executor loss.
  */
object Dedup {

  /** Auto-mode broadcast decision shared by the near-dup verifiers: a
    * per-doc side table is safe to broadcast only while the corpus is
    * small; beyond the cutoff the verification joins fall back to shuffle
    * (candidate sparsity makes that acceptable). The cutoff is BOTH a row
    * count and an estimated byte budget — a 900k-row corpus of 4096-dim
    * vectors is multi-GB and must not broadcast just because its row count
    * clears the bar. The byte budget is HEAP-AWARE: min(2 GB, maxHeap/8) —
    * building a broadcast HashedRelation transiently needs a multiple of
    * the data size on the driver, and the r19 sf10 probe measured a flat
    * 2 GB cutoff choosing to broadcast a ~1.2 GB-estimated shingle
    * relation on an 8 GB driver, which then died in the broadcast build
    * ("Not enough memory to build and broadcast"). maxHeap/8 routes that
    * case to the shuffle join; on a big-memory driver the absolute 2 GB
    * cap still bounds executor-side residency. Logs the choice so a
    * silent OOM never hides behind the default. */
  private[ext] def MaxBroadcastVerifyBytes: Long =
    math.min(1L << 31, Runtime.getRuntime.maxMemory() / 8)

  private[ext] def autoBroadcastVerify(op: String, docCount: Long, maxRows: Long,
                                  estBytesPerRow: Long): Boolean = {
    val estBytes = docCount * estBytesPerRow
    val bc = docCount <= maxRows && estBytes <= MaxBroadcastVerifyBytes
    System.err.println(s"[graft] $op: ~$docCount docs (~${estBytes >> 20} MiB est) -> " +
      (if (bc) "broadcasting" else "shuffle-joining") +
      s" the verification side tables (cutoffs: $maxRows rows, " +
      s"${MaxBroadcastVerifyBytes >> 20} MiB)")
    bc
  }

  /** Exact dedup: canonical representative per duplicate group, picked as
    * min(id) for determinism. Single hash-shuffle on the group columns. */
  def exact(df: DataFrame, idCol: String, byCols: Seq[String]): DataFrame =
    df.groupBy(byCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Exact dedup on a fingerprint of the given columns instead of the raw
    * values — the shuffle key becomes an 8-byte long instead of the full
    * document text. At 100 TB this is the difference between shuffling
    * text and shuffling longs. Collisions: 64-bit birthday bound gives
    * ~0.027 expected colliding pairs at 1e9 docs (~2.7e4 at 1e12 — verify
    * within groups downstream at that scale). */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), farmHash64(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: the rows of `incoming` whose `textCol`
    * content does not already appear in `existing` (by 64-bit farm
    * fingerprint) — the append-a-new-crawl step: dedup each new batch
    * against the accumulated corpus without re-deduping the corpus.
    *
    * Scale shape: `existing` is only ever touched as an 8-byte
    * fingerprint projection. A Bloom filter over those fingerprints (one
    * distributed aggregation pass; `bloomFpp` false-positive rate, no
    * false negatives) broadcasts to the incoming scan, which emits
    * definite-new rows (bloom miss — the vast majority of a typical
    * batch) straight from the scan with NO shuffle; only true duplicates
    * plus the ~fpp false positives are exact-verified through the
    * fingerprint anti join, so the join's incoming side carries a tiny
    * fraction of the batch. Equivalent by construction to a plain
    * fingerprint anti join — the bloom only prunes, verification
    * restores exactness — up to 64-bit collisions (birthday bound as
    * [[exactByFingerprint]]). Two rows with NULL text fingerprint
    * identically, so a null-text incoming row is "duplicate" when
    * `existing` has any null text — fingerprint semantics, not SQL
    * equality. Empty `existing` returns `incoming` unchanged. */
  def newAgainst(existing: DataFrame, incoming: DataFrame,
                 textCol: String, bloomFpp: Double = 0.01): DataFrame = {
    // above ~0.5 the optimal-bits formula rounds the filter to zero bits
    require(bloomFpp > 0 && bloomFpp <= 0.5,
      s"bloomFpp must be in (0, 0.5], got $bloomFpp")
    // three consumers (count, bloom build, anti join) would each re-run
    // a derived `existing` plan: pin the 8-byte projection eagerly
    // (see the cache note up top). `incoming` is scanned twice (the two filter branches); pin
    // it caller-side when it is itself an expensive derived relation.
    // nEx sizes the bloom; it rides the pin (no count job)
    val (exFp, nEx) =
      Pin.counted(existing.select(farmHash64(col(textCol)).as("__fp")))
    if (nEx == 0) return incoming
    val bloom = exFp.stat.bloomFilter("__fp", nEx, bloomFpp)
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (fp: Long) => bc.value.mightContainLong(fp) }
    val flagged = incoming.withColumn("__fp", farmHash64(col(textCol)))
      .withColumn("__might", mightContain(col("__fp")))
    val definiteNew = flagged.filter(!col("__might"))
    val verified = flagged.filter(col("__might"))
      .join(exFp, Seq("__fp"), "left_anti")
    definiteNew.unionByName(verified).drop("__fp", "__might")
  }

  /** Build the accumulated-corpus Bloom filter [[maybeDuplicateFlag]]
    * consumes (one distributed aggregation over the 8-byte fingerprint
    * projection, like [[newAgainst]]'s internal filter). An empty corpus
    * yields an empty filter that flags nothing. */
  def corpusBloom(existing: DataFrame, textCol: String,
                  bloomFpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    require(bloomFpp > 0 && bloomFpp <= 0.5,
      s"bloomFpp must be in (0, 0.5], got $bloomFpp")
    val exFp = existing.select(farmHash64(col(textCol)).as("__fp"))
    val nEx = exFp.count()
    if (nEx == 0) org.apache.spark.util.sketch.BloomFilter.create(1, bloomFpp)
    else exFp.stat.bloomFilter("__fp", nEx, bloomFpp)
  }

  /** The streaming-liftable column form of [[newAgainst]]: a stateless
    * per-row "might already exist in the corpus" flag from a PRE-BUILT
    * [[corpusBloom]]. `false` is definitive (Bloom filters have no false
    * negatives — the row is certainly new); `true` means duplicate OR a
    * ~fpp false positive, so route flagged rows through the exact batch
    * anti join when exactness matters. Being a pure column expression (no
    * join, no state) it runs unchanged on a Structured-Streaming batch
    * where [[newAgainst]]'s count + anti join cannot; the filter ships in
    * the closure (once per query start). */
  def maybeDuplicateFlag(text: Column,
                         bloom: org.apache.spark.util.sketch.BloomFilter): Column = {
    val probe = udf { (fp: Long) => bloom.mightContainLong(fp) }
    probe(farmHash64(text))
  }

  /** Cross-document duplicated-SPAN detection — the exact-substring
    * dedup of Lee et al. '21 ("Deduplicating Training Data Makes
    * Language Models Better"), whose reference implementation builds a
    * corpus-wide suffix array. Re-expressed Spark-first with WINNOWING
    * anchors (Schleimer et al. '03): each document selects the
    * minimum-hash `gram`-char window of every `minLen - gram + 1`-window
    * neighborhood, so any two copies of a span of length >= `minLen`
    * select at least one IDENTICAL anchor substring regardless of their
    * offsets (the winnowing guarantee — no alignment needed, no suffix
    * array). Hash-equal anchors across documents become candidates; each
    * candidate re-reads both texts once and extends char-by-char to the
    * MAXIMAL common substring around the seed (which also kills hash
    * collisions), and spans shorter than `minLen` drop.
    *
    * Returns one row per maximal duplicated span occurrence pair:
    * `(id_a, id_b, start_a, start_b, span_len)` with id_a < id_b —
    * different anchors inside one maximal span extend to the same
    * boundaries, so a plain `distinct` collapses them exactly.
    *
    * Scale shape: the anchor relation carries ~2·len/(minLen-gram)
    * (hash, id, pos) tuples per document (never the text); the self-join
    * groups by 8-byte anchor hash with anchors occurring in more than
    * `maxAnchorOccurrences` documents dropped (boilerplate pathologies —
    * the [[minhashNearDups]] bucket-cap guard; audit separately before
    * raising it). Only CANDIDATE pairs ever shuffle text, through the
    * two id-joins that feed extension. Within-document repeats are out
    * of scope (id_a < id_b). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      minLen: Int = 100, gram: Int = 16,
                      maxAnchorOccurrences: Int = 1000): DataFrame = {
    require(gram >= 4, s"gram must be >= 4, got $gram")
    require(minLen > gram, s"minLen must exceed gram, got $minLen <= $gram")
    require(maxAnchorOccurrences >= 2,
      s"maxAnchorOccurrences must be >= 2, got $maxAnchorOccurrences")
    val w = minLen - gram + 1
    val anchorsUdf = udf { (text: String) =>
      SpanKernels.winnowAnchors(text, gram, w)
        .map { case (h, p) => (h, p) }.toSeq
    }
    val corpusT = df.select(col(idCol).as("__id"), col(textCol).as("__text"))
    val rawAnchors = corpusT
      .select(col("__id"), explode(anchorsUdf(col("__text"))).as("__a"))
      .select(col("__a._1").as("__h"), col("__id"), col("__a._2").as("__pos"))
    // periodic text selects the SAME hash at many positions of one doc;
    // unbounded, a single boilerplate-heavy doc pair would fan out
    // |pos_a|×|pos_b| candidate extensions. Keep the first few positions
    // per (hash, doc) — distinct alignments beyond that are periodic
    // repeats of the same span family. Combined with the distinct-doc
    // cap below, the per-hash pair fan-out is bounded by
    // (8 × maxAnchorOccurrences)².
    val anchors = rawAnchors.groupBy("__h", "__id")
      .agg(slice(sort_array(collect_list(col("__pos"))), 1, 8).as("__ps"))
      .select(col("__h"), col("__id"), explode(col("__ps")).as("__pos"))
    val okAnchors = anchors.groupBy("__h")
      .agg(countDistinct(col("__id")).as("__nd"))
      .filter(col("__nd") > 1 && col("__nd") <= maxAnchorOccurrences)
      .select("__h")
    // no broadcast hint: the shared-anchor set scales with corpus
    // duplication and can exceed driver/executor memory at the 100 TB
    // target — AQE broadcasts it only when it measures small
    val pruned = anchors.join(okAnchors, Seq("__h"))
    val cand = pruned.select(col("__h"), col("__id").as("id_a"), col("__pos").as("__pa"))
      .join(pruned.select(col("__h"), col("__id").as("id_b"), col("__pos").as("__pb")),
        Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .drop("__h").distinct()
    val extendUdf = udf { (ta: String, tb: String, pa: Int, pb: Int) =>
      SpanKernels.extendMatch(ta, tb, pa, pb, gram)
    }
    cand
      .join(corpusT.select(col("__id"), col("__text").as("__ta")),
        col("id_a") === col("__id")).drop("__id")
      .join(corpusT.select(col("__id"), col("__text").as("__tb")),
        col("id_b") === col("__id")).drop("__id")
      .withColumn("__m", extendUdf(col("__ta"), col("__tb"), col("__pa"), col("__pb")))
      .filter(col("__m").isNotNull && col("__m._3") >= minLen)
      .select(col("id_a"), col("id_b"), col("__m._1").as("start_a"),
        col("__m._2").as("start_b"), col("__m._3").as("span_len"))
      .distinct()
  }

  /** WITHIN-document repeated spans — the intra-doc half of the
    * exact-substring dedup ([[duplicatedSpans]] covers cross-doc): one
    * partition-local pass, NO join and NO shuffle — each document's
    * winnowing anchors pair up in memory and extend to maximal matches
    * >= `minLen`. Returns (idCol, start_a, start_b, span_len) with
    * start_a < start_b; `maxPairsPerDoc` bounds pathologically periodic
    * documents. Feed `start_b`-keyed rows into
    * [[stripDuplicatedSpans]]-style removal to keep first occurrences. */
  def withinDocRepeats(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 100, gram: Int = 16,
                       maxPairsPerDoc: Int = 1000): DataFrame = {
    require(gram >= 4, s"gram must be >= 4, got $gram")
    require(minLen > gram, s"minLen must exceed gram, got $minLen <= $gram")
    val w = minLen - gram + 1
    val repeatsUdf = udf { (text: String) =>
      SpanKernels.selfRepeats(text, gram, w, minLen, maxPairsPerDoc).toSeq
    }
    df.select(col(idCol), explode(repeatsUdf(col(textCol))).as("__r"))
      .select(col(idCol), col("__r._1").as("start_a"),
        col("__r._2").as("start_b"), col("__r._3").as("span_len"))
  }

  /** Keep-first REMOVAL of [[withinDocRepeats]] output: cut each LATER
    * occurrence (`start_b`, the greater offset) out of its own document,
    * first occurrences kept — the intra-doc analog of
    * [[stripDuplicatedSpans]], sharing its merge-and-cut kernel. */
  def stripWithinDocRepeats(df: DataFrame, idCol: String, textCol: String,
                            repeats: DataFrame): DataFrame =
    stripDuplicatedSpans(df, idCol, textCol,
      repeats.select(col(idCol).as("id_b"),
        col("start_b"), col("span_len")))

  /** Keep-first REMOVAL of [[duplicatedSpans]] output: rewrite each doc
    * appearing as `id_b` (the greater id — the later copy) with its
    * duplicated ranges cut out, overlapping ranges merged first; docs
    * with no spans pass through untouched. The complement at span
    * granularity of [[graft.ext.TextAnalysis.dedupSegmentsKeepFirst]]'s
    * segment granularity. */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           spans: DataFrame): DataFrame = {
    val drops = spans.groupBy(col("id_b").as("__id"))
      .agg(collect_list(struct(col("start_b"), col("span_len"))).as("__spans"))
    // the two arrays are field-projections of ONE collected struct list,
    // so their pairing order is identical by construction
    val cutUdf = udf { (text: String, starts: scala.collection.Seq[Int],
                        lens: scala.collection.Seq[Int]) =>
      if (text == null || starts == null) text
      else SpanKernels.cutRanges(text, starts.zip(lens).toArray)
    }
    df.join(drops, col(idCol) === col("__id"), "left")
      .withColumn(textCol,
        when(col("__spans").isNull, col(textCol))
          .otherwise(cutUdf(col(textCol),
            col("__spans").getField("start_b"),
            col("__spans").getField("span_len"))))
      .drop("__id", "__spans")
  }

  /** The MinHash-LSH family's shared front half: (hashed-shingle table,
    * banded-signature relation), both pinned, plus the banded relation's
    * row count.
    *
    * The whole pipeline runs on hashed shingles (sorted distinct longs) —
    * no string arrays anywhere: shingling is one custom-expression pass,
    * minhash remixes the longs, verification is a sorted-merge walk. The
    * compact (id, hashes) table is pinned because it feeds the signature
    * path AND the verification sides, which would otherwise re-scan and
    * re-shingle the corpus per consumer.
    *
    * The banded relation carries ONLY (id, band, bsig) ([[bandSignatures]]):
    * the shingle arrays are re-joined by id after pair dedup, so the
    * ×bands explode shuffle moves 3 scalars per row, never the document
    * shingles; it is pinned because every consumer reads it through
    * several plan branches (bucket counts + pair sides), each of which
    * would re-shingle and re-minhash the corpus otherwise — ~24 bytes/row
    * × bands, negligible next to the corpus it replaces.
    *
    * `pinBands = false` leaves it lazy for a side whose one consumer is
    * itself pinned (the incoming side of [[minhashAgainst]]).
    *
    * The banded row count (docs × bands: every document yields one row
    * per band) RIDES the shingle pin as an observed metric instead of
    * paying its own scheduler round trip afterwards (guide §1.2-1: every
    * consumer — bloom sizing, broadcast-verify sizing — needs it; measured
    * 3 jobs → 1 for the pin+count pattern). */
  private[ext] def shingleBandedCounted(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, bands: Int, shingleLen: Int,
      seed: Int, pinBands: Boolean = true): (DataFrame, DataFrame, Long) = {
    val (sh, docs) = Pin.counted(shingleTable(df, idCol, textCol, shingleLen))
    val banded = bandSignatures(sh, numHashes, bands, seed)
    (sh, if (pinBands) Pin.eager(banded) else banded, docs * bands)
  }

  /** (id, sh): each document's sorted distinct shingle hashes; documents
    * with none are dropped. */
  private def shingleTable(df: DataFrame, idCol: String, textCol: String,
                           shingleLen: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleHashes(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (id, band, bsig) rows of a hashed-shingle table: the one band
    * construction. Band signature = farm fingerprint of the band's slice
    * of the minhash signature, so the bucket key is a single long (cheap
    * shuffle key). Band indices are a driver-side Int range, so each
    * slice start is a literal — cheaper than a per-row sequence+transform
    * and keeps slice() overloads happy. */
  private def bandSignatures(sh: DataFrame, numHashes: Int, bands: Int,
                             seed: Int): DataFrame = {
    val rPerB = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        farmHash64(slice(col("sig"), b * rPerB + 1, rPerB)).as("bsig"))
    }
    sh.withColumn("sig", minhash(col("sh"), numHashes, seed))
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
  }

  /** The bucket key of the MinHash banded relations. */
  private val BandKeys = Seq("band", "bsig")

  /** The banding facts every MinHash price names. */
  private def minhashParams(numHashes: Int, bands: Int, maxBucketSize: Int) =
    s"numHashes=$numHashes, bands=$bands => r=${numHashes / bands}, " +
      s"maxBucketSize=$maxBucketSize"

  /** Who pairs with whom in [[bucketCandidates]]; `left` and `right` name
    * the output id columns. */
  private[ext] sealed abstract class PairShape(val left: String, val right: String)

  /** Self-join: buckets of 2 to `maxBucketSize` members, one row per
    * unordered pair (id_a < id_b). */
  private[ext] case object SelfPairs extends PairShape("id_a", "id_b")

  /** `probe`'s (keys, id) rows against the banded side: every bucket up to
    * `maxBucketSize` is a match target, singletons included. */
  private[ext] final case class CrossPairs(probe: DataFrame)
    extends PairShape("id_new", "id_old")

  /** What a priced operator says when it trips: its name, the cap, the
    * parameter facts behind the estimate and the tuning hint. */
  private[ext] final case class CandidatePrice(op: String, cap: Option[Long],
                                               params: String, hint: String)

  /** The one candidate-volume guard: logs the estimate, and throws past
    * the cap before any candidate pair exists. */
  private[ext] def priceCandidates(p: CandidatePrice, estimate: Long): Unit = {
    p.cap.foreach { cap =>
      if (estimate > cap) throw new IllegalStateException(
        s"${p.op}: estimated candidate volume $estimate exceeds " +
          s"maxCandidates=$cap (${p.params}). ${p.hint}")
    }
    System.err.println(s"[graft] ${p.op}: estimated candidate volume " +
      s"$estimate (${p.params})" +
      (if (estimate > WarnCandidateVolume)
        s" — past $WarnCandidateVolume, verification pays this volume. ${p.hint}"
      else ""))
  }

  /** The one banded candidate step: deduplicated id pairs that share a
    * bucket of `banded` (its `keys` and `id`), buckets over
    * `maxBucketSize` dropped, priced before the pair join runs.
    *
    * The probe side of the bucket join (the self side, or the cross
    * side's probe rows) joined with the bucket sizes is pinned, and the
    * price rides that pin as an observed metric: Σ over its rows of the
    * partners each row meets — count−1 per self-join row (halved: one
    * row per unordered pair), count per cross row — which is EXACTLY
    * the pair join's pre-dedup output (Σ c·(c−1)/2, Σ n_in·n_ex). The cap
    * thus fires before the quadratic expansion and the dedup shuffle,
    * and the pair join reads the pin. */
  private[ext] def bucketCandidates(banded: DataFrame, keys: Seq[String],
      maxBucketSize: Int, shape: PairShape, price: CandidatePrice): DataFrame = {
    val k = keys.map(col)
    val sizes = banded.groupBy(k: _*).count()
    val (probeSide, buckets, partners) = shape match {
      case SelfPairs => (banded,
        sizes.filter(col("count") > 1 && col("count") <= maxBucketSize),
        col("count") - 1)
      case CrossPairs(p) => (p, sizes.filter(col("count") <= maxBucketSize),
        col("count"))
    }
    val (probe, mass) = Pin.measured(
      probeSide.select(k :+ col("id").as(shape.left): _*).join(buckets, keys),
      sum(partners))
    priceCandidates(price, if (shape == SelfPairs) mass / 2 else mass)
    val joined = probe.join(banded.select(k :+ col("id").as(shape.right): _*), keys)
    (if (shape == SelfPairs) joined.filter(col(shape.left) < col(shape.right))
     else joined)
      .select(shape.left, shape.right)
      .dropDuplicates(shape.left, shape.right)
  }

  /** The one Jaccard verify step of the MinHash searches. `pairs` holds
    * two id columns (left, right); each side's (id, sh) table attaches by
    * id — broadcast or shuffle-joined, decided by [[autoBroadcastVerify]]
    * on `docs` (~2.5 KB/doc of hashed shingles) unless `broadcastVerify`
    * forces it. Pairs whose set sizes alone rule out `threshold` never
    * pay the sorted merge walk; the rest keep (left, right, jaccard) at
    * or above it. */
  private[ext] def verifyJaccard(op: String, pairs: DataFrame,
      shLeft: DataFrame, shRight: DataFrame, threshold: Double,
      broadcastVerify: Option[Boolean], docs: Long,
      broadcastVerifyMaxRows: Long): DataFrame = {
    val Array(l, r) = pairs.columns
    val doBroadcast = broadcastVerify.getOrElse(autoBroadcastVerify(op, docs,
      broadcastVerifyMaxRows, estBytesPerRow = 2560L))
    def side(sh: DataFrame, n: String) = {
      val s = sh.select(col("id").as(n), col("sh").as(s"shh_$n"))
      if (doBroadcast) broadcast(s) else s
    }
    val (a, b) = (size(col(s"shh_$l")), size(col(s"shh_$r")))
    pairs
      .join(side(shLeft, l), l)
      .join(side(shRight, r), r)
      // J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)
      .filter(least(a, b) >= lit(threshold) * greatest(a, b))
      .withColumn("jaccard", jaccardSorted(col(s"shh_$l"), col(s"shh_$r")))
      .filter(col("jaccard") >= threshold)
      .select(col(l), col(r), col("jaccard"))
  }

  /** MinHash-LSH near-duplicate pairs over a text column.
    *
    * shingle(n chars) → minhash(numHashes) → split into `bands` bands →
    * explode (doc, bandIdx, bandSig) → group by band signature → emit
    * candidate pairs within buckets ([[bucketCandidates]], priced before
    * they exist) → verify exact shingle-Jaccard ≥ `threshold`
    * ([[verifyJaccard]]). Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Few rows per band (e.g. numHashes=64, bands=32 → r=2) is high-recall
    * banding, but on corpora with shared vocabulary a 2-hash signature
    * collides broadly and candidates go quadratic in bucket sizes —
    * measured 15.5M candidates from a 10k-doc corpus at r=2 where r=4
    * yields ~100k. That is what the price and `maxCandidates` catch.
    *
    * @param broadcastVerify broadcast the per-doc hashed-shingle table into
    *        the verification joins: candidate pairs then never shuffle with
    *        arrays attached — the pair relation stays 2 longs wide. The
    *        table is ~2.5 KB/doc, fine to broadcast up to ~1e6 docs but an
    *        executor OOM beyond; `None` (default) decides from the corpus
    *        row count (broadcast iff ≤ `broadcastVerifyMaxRows`, measured on
    *        the already-pinned banded relation, and logs the choice), so a
    *        1e9-doc corpus falls back to the shuffle join automatically.
    * @param broadcastVerifyMaxRows auto-mode cutoff for `broadcastVerify` */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
                      threshold: Double = 0.8, seed: Int = 0,
                      maxBucketSize: Int = 1000,
                      broadcastVerify: Option[Boolean] = None,
                      broadcastVerifyMaxRows: Long = 1000000L,
                      maxCandidates: Option[Long] = DefaultMaxCandidates): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (sh, banded, nBanded) = shingleBandedCounted(df, idCol, textCol,
      numHashes, bands, shingleLen, seed)
    val pairs = bucketCandidates(banded, BandKeys, maxBucketSize, SelfPairs,
      CandidatePrice("minhashNearDups", maxCandidates,
        minhashParams(numHashes, bands, maxBucketSize),
        "Use more rows per band (fewer bands for the same numHashes), " +
          "a smaller maxBucketSize, or simhashNearDups."))
    // docs = banded rows / bands; the count rode the pin
    verifyJaccard("minhashNearDups", pairs, sh, sh, threshold,
      broadcastVerify, nBanded / bands, broadcastVerifyMaxRows)
  }

  /** Incremental NEAR-duplicate detection: (id_new, id_old, jaccard) pairs
    * where an `incoming` document's exact shingle-Jaccard against some
    * `existing` document reaches `threshold` — the near-dup analog of
    * [[newAgainst]], the append-a-new-crawl step when byte-identity is
    * too strict. Anti-join `incoming` on `id_new` to keep the novel rows.
    *
    * Scale shape: both sides reduce to the shared hashed-shingle +
    * banded-signature relations ([[shingleBandedCounted]]); a Bloom filter
    * over the EXISTING side's band signatures (8-byte keys, `bloomFpp`, no
    * false negatives) broadcasts into the incoming side's scan, so an
    * incoming document none of whose bands hits the filter — the typical
    * novel document — never shuffles at all. The rest is
    * [[minhashAgainst]], the body [[DedupIndex.minhashNewAgainst]] shares:
    * surviving bands equi-join existing buckets (capped at `maxBucketSize`
    * like [[minhashNearDups]]; singleton buckets are legitimate match
    * targets here), priced and capped by `maxCandidates`, pairs dedup on
    * 2 longs, and verification is the identical exact sorted-shingle
    * merge — so the exactness contract matches [[minhashNearDups]]
    * restricted to cross-side pairs. The existing corpus is never
    * self-joined.
    */
  def minhashNewAgainst(existing: DataFrame, incoming: DataFrame,
                        idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
                        threshold: Double = 0.8, seed: Int = 0,
                        maxBucketSize: Int = 1000, bloomFpp: Double = 0.01,
                        broadcastVerify: Option[Boolean] = None,
                        broadcastVerifyMaxRows: Long = 1000000L,
                        maxCandidates: Option[Long] = DefaultMaxCandidates): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(bloomFpp > 0 && bloomFpp <= 0.5,
      s"bloomFpp must be in (0, 0.5], got $bloomFpp")
    // the two sides' shingle+band+pin chains are independent job chains
    // over different inputs — concurrent submissions (the established
    // pattern): the serial form paid ~8 scheduler round-trips of eager
    // construction latency per call before the first candidate was even
    // planned. The incoming side is derived even when `existing` turns
    // out empty — wasted work only in that degenerate corner.
    val fEx = ArtifactIO.leg {
      shingleBandedCounted(existing, idCol, textCol,
        numHashes, bands, shingleLen, seed)
    }
    val ((shEx, bandedEx, nEx), (shIn, bandedIn, nIn)) =
      graft.core.Par.withLeg(fEx) {
        shingleBandedCounted(incoming, idCol, textCol,
          numHashes, bands, shingleLen, seed, pinBands = false)
      }
    // the bloom-sizing count rode the shingle pin, so the bloom build is
    // the only job here
    val prune =
      if (nEx == 0) Nil
      else Seq(bandedEx.select(fieldHash(BandKeys.map(col)).as("__bk"))
        .stat.bloomFilter("__bk", nEx, bloomFpp))
    minhashAgainst("minhashNewAgainst", shIn, bandedIn, nIn,
      shEx, bandedEx, nEx, prune, numHashes, bands, threshold,
      maxBucketSize, broadcastVerify, broadcastVerifyMaxRows, maxCandidates)
  }

  /** The one "new against existing" MinHash body, shared by
    * [[minhashNewAgainst]] (existing side derived from text) and
    * [[DedupIndex.minhashNewAgainst]] (existing side read from the
    * artifact). `(sh*, banded*, n*)` are each side's hashed-shingle
    * table, banded relation and banded row count; `prune` holds Bloom
    * filters over the existing side's band keys (none: no pruning).
    * Returns (id_new, id_old, jaccard). */
  private[ext] def minhashAgainst(op: String,
      shIn: DataFrame, bandedIn: DataFrame, nIn: Long,
      shEx: DataFrame, bandedEx: DataFrame, nEx: Long,
      prune: Seq[org.apache.spark.util.sketch.BloomFilter],
      numHashes: Int, bands: Int, threshold: Double, maxBucketSize: Int,
      broadcastVerify: Option[Boolean], broadcastVerifyMaxRows: Long,
      maxCandidates: Option[Long]): DataFrame = {
    // id_old's type comes from the EXISTING side (as on the normal path)
    // — a zero-row cross join keeps both paths' schemas identical even
    // when the two id columns differ. The incoming side's pins go unused
    // here; they are released with every other pin (see the cache note
    // up top)
    if (nEx == 0) return shIn.select(col("id").as("id_new")).limit(0)
      .crossJoin(shEx.select(col("id").as("id_old")).limit(0))
      .withColumn("jaccard", lit(0.0))
    // (band, bsig) funneled to one long; the bloom broadcast prunes the
    // incoming bands BEFORE any shuffle (false positives only add
    // candidates — the exact verify restores precision)
    val survivors =
      if (prune.isEmpty) bandedIn
      else {
        val bc = shIn.sparkSession.sparkContext.broadcast(prune)
        val might = udf { (k: Long) => bc.value.exists(_.mightContainLong(k)) }
        bandedIn.filter(might(fieldHash(BandKeys.map(col))))
      }
    val pairs = bucketCandidates(bandedEx, BandKeys, maxBucketSize,
      CrossPairs(survivors), CandidatePrice(op, maxCandidates,
        minhashParams(numHashes, bands, maxBucketSize),
        "Use more rows per band (fewer bands for the same numHashes) or " +
          "a smaller maxBucketSize."))
    // BOTH side tables broadcast under the hint, so the decision sizes on
    // the LARGER side — a 50M-doc incoming crawl against a small
    // accumulated corpus must not get broadcast just because the existing
    // side is tiny
    verifyJaccard(op, pairs, shIn, shEx, threshold, broadcastVerify,
      math.max(nEx, nIn) / bands, broadcastVerifyMaxRows)
  }

  /** Build the accumulated-corpus band-signature Bloom filter that
    * [[maybeNearDuplicateFlag]] probes — the NEAR-dup analog of
    * [[corpusBloom]]. One distributed aggregation over the existing
    * side's (band, bsig) keys; parameters must match the flag's exactly
    * (a mismatch silently probes garbage — both ends funnel the same
    * `(band, bsig)` through [[graft.GraftFunctions.fieldHash]]). An empty
    * corpus yields an empty filter that flags nothing. */
  def nearDupBloom(existing: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
                   seed: Int = 0, bloomFpp: Double = 0.01)
      : org.apache.spark.util.sketch.BloomFilter = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    require(bloomFpp > 0 && bloomFpp <= 0.5,
      s"bloomFpp must be in (0, 0.5], got $bloomFpp")
    val (_, banded, n) = shingleBandedCounted(existing, idCol, textCol,
      numHashes, bands, shingleLen, seed)
    if (n == 0) return org.apache.spark.util.sketch.BloomFilter.create(1, bloomFpp)
    banded.select(fieldHash(Seq(col("band"), col("bsig"))).as("__bk"))
      .stat.bloomFilter("__bk", n, bloomFpp)
  }

  /** Streaming-liftable "might be a near-duplicate of the corpus" flag
    * from a pre-built [[nearDupBloom]]: shingle → minhash → band
    * signatures, true iff ANY band signature hits the filter. `false` is
    * definitive for documents at or above the LSH recall envelope of the
    * (bands, rows) choice — a Jaccard-`s` duplicate misses every band
    * only with probability (1-s^r)^bands, on TOP of which the Bloom side
    * has no false negatives; `true` means candidate (near-dup OR bucket
    * coincidence OR ~fpp Bloom noise) — route flagged rows through the
    * exact [[minhashNewAgainst]] verify when precision matters. Pure
    * column expression (no join, no state): runs unchanged on a
    * Structured-Streaming batch, filter ships in the closure once. */
  def maybeNearDuplicateFlag(text: Column,
                             bloom: org.apache.spark.util.sketch.BloomFilter,
                             numHashes: Int = 64, bands: Int = 16,
                             shingleLen: Int = 5, seed: Int = 0): Column = {
    bandKeyFlag(text, numHashes, bands, shingleLen, seed,
      bloom.mightContainLong)
  }

  /** The band-key flag construction shared by [[maybeNearDuplicateFlag]]
    * and [[DedupIndex.nearDuplicateFlag]] (`contains` is the caller's
    * membership test — one Bloom or a segment set; the closure ships
    * with the udf). ONE tokenize+minhash evaluation: the band keys are
    * built inside a single transform over a literal band range (the
    * signature is one shared child, not re-shingled per band).
    * Empty/null text minhashes to a NULL signature, but the hash funnel
    * (FieldHash/farmHash64) is non-nullable and SKIPS null inputs — an
    * unguarded probe would turn every null signature into the same
    * constant per-band key array, and all empty/null documents would
    * then flag true together whenever any one of those constants is a
    * Bloom false positive (~1-(1-fpp)^bands, correlated across the
    * whole stream). The signature is guarded explicitly: null signature
    * => definitive false. */
  private[ext] def bandKeyFlag(text: Column, numHashes: Int, bands: Int,
                               shingleLen: Int, seed: Int,
                               contains: Long => Boolean): Column = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rPerB = numHashes / bands
    val sig = minhash(shingleHashes(text, shingleLen), numHashes, seed)
    val keys = transform(sequence(lit(0), lit(bands - 1)), b =>
      fieldHash(Seq(b,
        farmHash64(slice(sig, b * lit(rPerB) + lit(1), lit(rPerB))))))
    val probeAny = udf { (ks: scala.collection.Seq[Long]) =>
      ks != null && ks.exists(contains)
    }
    when(sig.isNull, lit(false)).otherwise(probeAny(keys))
  }

  /** Shared front half of [[simhashNearDups]] and
    * [[estimateSimhashCandidates]]: the pinned (id, fp, chunk, csig)
    * relation — pinned because three plan branches (bucket counts + both
    * pair sides) would otherwise each re-tokenize and re-vote the simhash
    * over the full corpus. Splitting it out guarantees the estimator
    * prices EXACTLY the relation the bucket join consumes. */
  private[ext] def simhashChunked(df: DataFrame, idCol: String,
      textCol: String, chunks: Int, seed: Int): DataFrame = {
    // guards the public estimator too: chunks=0 would divide by zero and
    // chunks>64 would give 0-bit signatures whose single corpus-sized
    // bucket silently prices as "no candidates"
    require(chunks >= 1 && chunks <= 64,
      s"chunks must be in [1, 64], got $chunks")
    val bitsPer = 64 / chunks
    // string fast path: tokenize+hash+vote in one pass inside SimHash64
    val fp = df.select(col(idCol).as("id"), simhash(col(textCol), seed).as("fp"))
    // chunk indices are a driver-side Int range: shift amounts become
    // literal Ints (shiftrightunsigned requires them) and the per-row
    // sequence+transform disappears
    val chunkStructs = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("fp"), c * bitsPer)
          .bitwiseAND(lit((1L << bitsPer) - 1)).as("csig"))
    }
    Pin.eager(fp.select(col("id"), col("fp"), explode(array(chunkStructs: _*)).as("cc"))
      .select(col("id"), col("fp"), col("cc.chunk").as("chunk"),
        col("cc.csig").as("csig")))
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprint; candidates share at
    * least one of `chunks` equal bit-chunks (pigeonhole guarantees recall
    * for Hamming distance < chunks); verified by exact Hamming ≤ maxHamming.
    * Self-pricing like [[minhashNearDups]]: the chunk-bucket candidate
    * volume is estimated pre-flight (it is the same bucket-mass-squared
    * shape — narrow per-chunk signatures on a homogeneous corpus collide
    * broadly), logged past [[WarnCandidateVolume]], and fail-fast past
    * `maxCandidates` (default [[DefaultMaxCandidates]]). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, chunks: Int = 4, seed: Int = 0,
                      maxBucketSize: Int = 1000,
                      maxCandidates: Option[Long] = DefaultMaxCandidates): DataFrame = {
    require(chunks > maxHamming, "need chunks > maxHamming for full recall (pigeonhole)")
    val chunked = simhashChunked(df, idCol, textCol, chunks, seed)

    val a = chunked.select(col("chunk"), col("csig"), col("id").as("id_a"), col("fp").as("fp_a"))
    val b = chunked.select(col("chunk"), col("csig"), col("id").as("id_b"), col("fp").as("fp_b"))
    val buckets = chunked.groupBy("chunk", "csig").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1)
    // self-pricing: Σ c·(c−1)/2 over surviving buckets equals the bucket
    // join's pre-Hamming pre-dedup candidate output EXACTLY — one tiny
    // aggregation over the already-pinned chunked relation. The Hamming
    // filter is cheap per pair, but the JOIN still emits (and shuffles)
    // this volume, so a recall-tuned chunking that collides broadly goes
    // quadratic exactly like minhash's r=2 banding did.
    priceCandidates(CandidatePrice("simhashNearDups", maxCandidates,
      s"chunks=$chunks => ${64 / chunks} bits each, maxBucketSize=$maxBucketSize",
      "Use fewer chunks (wider per-chunk signatures collide less; keep " +
        "chunks > maxHamming) or a smaller maxBucketSize."),
      bucketCandidateVolume(buckets))
    // Hamming-verify BEFORE the pair dedup: the fingerprints already ride
    // the chunked relation, so the cheap bit_count filter collapses the
    // candidate volume (e.g. 1.4M -> ~5k at sf0.1) before the distinct's
    // shuffle, instead of deduplicating every raw bucket collision
    a.join(buckets, Seq("chunk", "csig"))
      .join(b, Seq("chunk", "csig"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming64(col("fp_a"), col("fp_b")))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Audit helper: the MinHash-LSH buckets that `minhashNearDups` would drop
    * for exceeding `maxBucketSize` — run with the same parameters to see
    * what boilerplate clusters were excluded. Returns (band, bsig, count). */
  def oversizedBuckets(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
                       seed: Int = 0, maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    bandSignatures(shingleTable(df, idCol, textCol, shingleLen),
        numHashes, bands, seed)
      .groupBy("band", "bsig").count()
      .filter(col("count") > maxBucketSize)
  }

  /** Shared front half of [[embeddingNearDups]] and
    * [[estimateEmbeddingCandidates]]: the pinned (id, table, bucket)
    * sign-LSH relation — pinned because bucket counts and both pair sides
    * would each re-project dim×bits×tables dot products per row
    * otherwise. Splitting it out guarantees the estimator prices EXACTLY
    * the relation the bucket join consumes. */
  private[ext] def embeddingBanded(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int, tables: Int,
      seed: Long): DataFrame =
    embeddingBandedCounted(df, idCol, vecCol, dim, bits, tables, seed)._1

  /** [[embeddingBanded]] plus its row count riding the pin as an
    * observed metric (the shingleBandedCounted pattern — no count job). */
  private[ext] def embeddingBandedCounted(df: DataFrame, idCol: String,
      vecCol: String, dim: Int, bits: Int, tables: Int,
      seed: Long): (DataFrame, Long) = {
    val planeSets = Array.tabulate(tables) { t =>
      val rnd = new java.util.Random(seed + t)
      Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    }
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val buckets = planeSets.zipWithIndex.map { case (planes, t) =>
      struct(lit(t).as("table"), lshSignBits(col("v"), planes).as("bucket"))
    }
    Pin.counted(
      v.select(col("id"), explode(array(buckets.toIndexedSeq: _*)).as("tb"))
        .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket")))
  }

  /** Embedding-cosine near-duplicate pairs: documents whose embedding
    * vectors have cosine similarity ≥ `simThreshold`. Candidates come from
    * sign-hyperplane LSH buckets (never all-pairs — same scale shape as
    * the MinHash path: shuffle is O(docs × tables)); verification is exact
    * cosine on candidates. Returns (id_a, id_b, cosine_sim), id_a < id_b.
    *
    * @param broadcastVerify broadcast the (id, vector) table into the two
    *        verification joins so candidate pairs never shuffle with
    *        vectors attached. Only safe while the corpus fits executor
    *        memory (~dim×4 B/doc + overhead); `None` (default) decides from
    *        the corpus row count like [[minhashNearDups]] — at 1e9 vectors
    *        the verifier shuffle-joins instead of OOMing every executor.
    * @param broadcastVerifyMaxRows auto-mode cutoff for `broadcastVerify`
    * @param maxCandidates fail-fast ceiling (default [[DefaultMaxCandidates]]) on the pre-flight
    *        bucket candidate estimate, like [[minhashNearDups]] — a
    *        recall-tuned low-`bits` table set on a clustered embedding
    *        space has the same bucket-mass-squared quadratic shape */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        simThreshold: Double = 0.95, bits: Int = 8,
                        tables: Int = 8, seed: Long = 42L,
                        maxBucketSize: Int = 100000,
                        broadcastVerify: Option[Boolean] = None,
                        broadcastVerifyMaxRows: Long = 1000000L,
                        maxCandidates: Option[Long] = DefaultMaxCandidates): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val (banded, nBanded) =
      embeddingBandedCounted(df, idCol, vecCol, dim, bits, tables, seed)
    // the table-bucket join prices itself like the MinHash self-join —
    // the volume explodes when `bits` is too low for a clustered space
    val pairs = bucketCandidates(banded, Seq("table", "bucket"),
      maxBucketSize, SelfPairs, CandidatePrice("embeddingNearDups",
        maxCandidates, s"bits=$bits, tables=$tables, maxBucketSize=$maxBucketSize",
        "Use more bits per table (smaller sign buckets), fewer tables, or " +
          "a smaller maxBucketSize."))
    val doBroadcast = broadcastVerify.getOrElse(
      // docs = banded rows / tables; the count rode the pin
      autoBroadcastVerify("embeddingNearDups", nBanded / tables,
        broadcastVerifyMaxRows, estBytesPerRow = dim.toLong * 4 + 64))
    def side(n: String, vn: String) = {
      val s = v.select(col("id").as(n), col("v").as(vn))
      if (doBroadcast) broadcast(s) else s
    }
    pairs
      .join(side("id_a", "va"), "id_a")
      .join(side("id_b", "vb"), "id_b")
      .withColumn("cosine_sim", lit(1.0) - cosineDistance(col("va"), col("vb")))
      .filter(col("cosine_sim") >= simThreshold)
      .select(col("id_a"), col("id_b"), col("cosine_sim"))
  }

  /** Connected components over a near-dup pair list: every document
    * reachable through pairs lands in one cluster, labeled by the cluster's
    * minimum id — the representative a dedup keep-one policy retains.
    *
    * Two execution paths selected by edge count: at or below `driverCap`
    * edges, a driver-side union-find labels the graph in one collect
    * (several distributed join rounds on a small graph are pure job
    * overhead); above it, iterative min-label propagation over the
    * (undirected) edge list:
    * each round every vertex takes the min of its own label and its
    * neighbors' labels, then follows its representative's label once more
    * (path halving), so rounds needed ≈ half the largest cluster diameter.
    * `maxIter` bounds pathological chains; hitting it without convergence
    * logs a warning and returns the (finer-than-final) labels — safe for
    * dedup, which then merely under-merges. Scale shape: each round is
    * one shuffle of the EDGE list joined to the (id, label) relation —
    * edges are two longs, orders of magnitude smaller than the corpus;
    * each round's labels are lineage-truncated by a pin
    * (storage for dropped rounds is reclaimed by the ContextCleaner,
    * bounded by maxIter copies of an (id, component) pair relation).
    * Returns (id, component) for every id that appears in `pairs`;
    * singleton documents (no pairs) are their own implicit cluster.
    */
  /** @param driverCap edge-count ceiling for the driver fast path: an edge
    *        list at or below it is collected once as PRIMITIVE long pairs
    *        (`Dataset[(Long, Long)]` — `Tuple2` is specialized on Long, so
    *        ~32 B/edge, not boxed `Row`s) and labeled with an index-based
    *        union-find over flat arrays (~12 B/vertex). At the 5 M-edge
    *        default that is ≈ 160 MB of transient collect plus ≈ 120 MB of
    *        arrays on the driver — bounded and measured, not guessed. The
    *        near-dup pair lists this operator consumes are usually orders
    *        of magnitude smaller than the corpus, so most real dedup runs
    *        take this path; genuinely huge pair graphs fall through to the
    *        distributed propagation loop unchanged. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          driverCap: Long = 5000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // pin the pair list BEFORE mirroring: the union's two branches would
    // otherwise each evaluate the (possibly expensive) upstream candidate
    // pipeline that produced the pairs. Null-id pairs are dropped HERE so
    // both execution paths see the same graph (the distributed joins
    // below drop nulls silently; the driver path would otherwise NPE)
    val p = Pin.eager(pairs.select(col("id_a"), col("id_b"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull))
    val idType = p.schema("id_a").dataType
    val integralIds =
      Seq[org.apache.spark.sql.types.DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(idType)
    // the pinned edge count is one cheap scan of checkpointed blocks
    if (integralIds && p.count() <= driverCap) {
      // driver fast path: union-find over index arrays. Vertex ids are
      // deduped into a SORTED array, so index order == id order; union
      // attaches the larger-index root under the smaller, hence each
      // root IS its component's minimum id — matching the distributed
      // loop's converged labeling exactly.
      val spark = p.sparkSession
      import spark.implicits._
      val edges = p.select(col("id_a").cast(LongType), col("id_b").cast(LongType))
        .as[(Long, Long)].collect()
      val ids = {
        val raw = new Array[Long](edges.length * 2)
        var i = 0
        while (i < edges.length) {
          raw(2 * i) = edges(i)._1; raw(2 * i + 1) = edges(i)._2; i += 1
        }
        java.util.Arrays.sort(raw)
        var n = 0; var j = 0
        while (j < raw.length) {
          if (n == 0 || raw(n - 1) != raw(j)) { raw(n) = raw(j); n += 1 }
          j += 1
        }
        java.util.Arrays.copyOf(raw, n)
      }
      val parent = Array.tabulate(ids.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      var e = 0
      while (e < edges.length) {
        val ra = find(java.util.Arrays.binarySearch(ids, edges(e)._1))
        val rb = find(java.util.Arrays.binarySearch(ids, edges(e)._2))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        e += 1
      }
      val labeled = ids.indices.map(i => (ids(i), ids(find(i))))
      val longLabels = spark.sparkContext
        .parallelize(labeled, math.max(1, labeled.size / 500000))
        .toDF("id", "component")
      // restore the caller's id type so downstream joins line up
      return longLabels.select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
    }
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a pin, NOT persist: each round references the previous
    // labels twice (neighbor join + convergence check), so an uncut
    // logical plan doubles per round — exponential analysis cost by ~20
    // iterations. Checkpointing truncates lineage each round; on a real
    // cluster prefer reliable checkpoints (spark.sparkContext
    // .setCheckpointDir + .checkpoint) to survive executor loss on
    // long-running clustering jobs.
    var labels = Pin.eager(edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")))
    // null-safe: sum over an EMPTY label relation is null — fold to zero
    // so the first convergence compare doesn't NPE on a pair-free corpus
    def labelSum(l: DataFrame): java.math.BigDecimal =
      Option(l.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // candidate label per vertex = min over (own, neighbors')
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("nbr_component"))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nbr_component"), col("component")))
            .as("component"))
      // path halving: follow the representative's own label once more —
      // roughly halves the rounds a long chain needs
      val reps = stepped.select(col("id").as("component"), col("component").as("rep2"))
      val next = Pin.eager(stepped.join(reps, Seq("component"), "left")
        .select(col("id"), coalesce(col("rep2"), col("component")).as("component")))
      // labels are monotone non-increasing, so an unchanged (exact
      // decimal) sum IS convergence — one cheap agg instead of an
      // anti-join comparison per round
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponents did not converge in " +
        s"$maxIter rounds — returning finer-grained labels (under-merged clusters)")
    edges.unpersist()
    labels
  }

  /** Keep-one-per-cluster dedup: drops every document whose near-dup
    * cluster contains a smaller id (the representative). Documents with no
    * near-dup pair pass through untouched. */
  def dropNearDups(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val losers = components.filter(col("id") =!= col("component"))
      .select(col("id").as("__drop_id"))
    df.join(losers, df(idCol) === col("__drop_id"), "left_anti")
  }

  /** Quality-aware keep-one: from each duplicate cluster keep the row
    * with the HIGHEST `scoreCol` (ties on lowest id) instead of
    * [[dropNearDups]]'s lowest-id representative — the curation-practice
    * variant: when ten near-copies of a page exist, keep the
    * best-scoring extraction, not the numerically first crawl.
    *
    * `components` is the (id, component) labeling from
    * [[connectedComponents]] (or any clustering). Rows absent from
    * `components` are singletons and always kept. Scale shape: the
    * winner per cluster comes from the k-bounded
    * [[graft.functions.TopK.SmallestRows]] aggregate (k=1 — one buffered
    * row per cluster per task), and only (id, component, score) ride
    * the cluster shuffle; the corpus re-joins by id at the end. */
  def keepBest(df: DataFrame, idCol: String, components: DataFrame,
               scoreCol: String): DataFrame = {
    // rows absent from `components` are singletons and kept OUTSIDE the
    // competition entirely — no synthetic cluster label, so an arbitrary
    // labeling can never collide a singleton's id with a real cluster,
    // and ids stay their native type (string ids work like dropNearDups')
    val scored = df.select(col(idCol).as("id"),
        // null scores lose to any scored member (not SmallestRows'
        // nulls-first default, which would make them WIN)
        (-coalesce(col(scoreCol).cast("double"),
          lit(Double.NegativeInfinity))).as("__neg"))
      .join(components.select(col("id"), col("component")), Seq("id"))
    val winners = graft.sampling.DirectSampler
      .topByKey(scored.select(col("component"), col("__neg"), col("id")),
        Seq("component"), Seq("__neg", "id"), 1)
      .select(col("id").as("__keep_id"))
    val singletons = df.join(
      components.select(col("id").as("__cid")),
      df(idCol) === col("__cid"), "left_anti")
    singletons.unionByName(
      df.join(winners, df(idCol) === col("__keep_id"), "left_semi"))
  }

  /** One-call near-duplicate clustering: every row labeled with its
    * near-dup cluster id in `clusterCol` — [[minhashNearDups]] (banded
    * LSH candidates, exact shingle-Jaccard verify) fed through
    * [[connectedComponents]], with rows that matched nothing labeled as
    * their own singleton cluster. The label is each cluster's MINIMUM
    * member id, so it is stable under row order and repartitioning.
    *
    * This is the grouping column [[Split.leakageSafeSplit]] keys its
    * dice on (group-atomic split assignment — near-dups can never
    * straddle train/test), and the general-purpose cluster handle for
    * [[dropNearDups]]/[[keepBest]]-style policies expressed over the
    * corpus itself. Scale shape inherits its parts: banded buckets with
    * caps (never all-pairs), byte-aware broadcast-or-shuffle verify, and
    * the bounded dual-path component labeling. */
  def clusterNearDups(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 5,
                      threshold: Double = 0.8, seed: Int = 0,
                      maxBucketSize: Int = 1000,
                      clusterCol: String = "cluster",
                      maxCandidates: Option[Long] = DefaultMaxCandidates): DataFrame = {
    require(!df.columns.contains(clusterCol),
      s"clusterCol '$clusterCol' already exists on the input")
    val pairs = minhashNearDups(df, idCol, textCol, numHashes, bands,
      shingleLen, threshold, seed, maxBucketSize,
      maxCandidates = maxCandidates)
    val comp = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("component").as("__cc_comp"))
    // left join: rows with no near-dup pair are absent from the labeling
    // and become their own singleton cluster (their id)
    df.join(comp, df(idCol) === col("__cc_id"), "left")
      .withColumn(clusterCol, coalesce(col("__cc_comp"), df(idCol)))
      .drop("__cc_id", "__cc_comp")
  }

  /** Duplication accounting from a components labeling: one row per
    * cluster SIZE — `(cluster_size, n_clusters, n_docs, n_redundant)`,
    * ordered by size — the "what would dedup actually remove" report
    * curation practice reads before dropping anything. `n_redundant` is
    * the rows a keep-one policy sheds from clusters of that size
    * (`(size−1)·n_clusters`); singletons (rows absent from `components`)
    * appear as `cluster_size = 1` with zero redundancy, so the `n_docs`
    * column sums to the corpus row count exactly.
    *
    * Works with ANY (id, component) labeling — exact fingerprint groups,
    * [[connectedComponents]] over minhash/simhash/embedding pairs, a
    * persisted [[DedupIndex]] search. Scale shape: the corpus reduces to
    * its id column immediately; two aggregations over 8-byte keys, no
    * row wider than (id, component) ever shuffles. */
  def dedupReport(df: DataFrame, idCol: String,
                  components: DataFrame): DataFrame = {
    val sizes = labelIds(df, idCol, components)
      .groupBy("__rcomp").agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"),
        col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
      .orderBy("cluster_size")
  }

  /** Duplication accounting grouped by a corpus attribute (`byCol` — a
    * domain, source, language): per value, the row count and how many of
    * its rows a min-id keep-one dedup would drop (`n_redundant` = rows
    * whose id is not their cluster's label, attributed to the DROPPED
    * row's own `byCol`) — WHERE the duplicate mass comes from. A cluster
    * spanning two sources charges the redundancy to the source of each
    * dropped copy, which is the actionable attribution (the kept
    * representative's source keeps its row). */
  def dedupReportBy(df: DataFrame, idCol: String, components: DataFrame,
                    byCol: String): DataFrame = {
    val labeled = df.select(col(idCol).as("__rid"), col(byCol))
      .join(components.select(col("id").as("__rid"),
        col("component").as("__rcomp")), Seq("__rid"), "left")
      .withColumn("__rcomp", coalesce(col("__rcomp"), col("__rid")))
    labeled.groupBy(byCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rid") === col("__rcomp"), 0L).otherwise(1L))
          .as("n_redundant"))
      .orderBy(byCol)
  }

  /** (id → cluster label) for every corpus row: the `components` label
    * where present, the row's own id for singletons. */
  private def labelIds(df: DataFrame, idCol: String,
                       components: DataFrame): DataFrame =
    df.select(col(idCol).as("__rid"))
      .join(components.select(col("id").as("__rid"),
        col("component").as("__rcomp")), Seq("__rid"), "left")
      .withColumn("__rcomp", coalesce(col("__rcomp"), col("__rid")))

  /** Warn threshold of [[priceCandidates]], the guard every priced
    * operator runs before its candidate pairs exist: [[minhashNearDups]],
    * [[minhashNewAgainst]], [[DedupIndex.minhashNewAgainst]],
    * [[simhashNearDups]], [[embeddingNearDups]] and [[jaccardJoinExact]]
    * (the hard stop is `maxCandidates`, protective by default — see
    * [[DefaultMaxCandidates]]). */
  val WarnCandidateVolume: Long = 10000000L

  /** Default `maxCandidates` fail-fast ceiling across the banded joins
    * (minhash/simhash/embedding, their incremental forms, and
    * [[jaccardJoinExact]]): 1e9 candidate pairs — roughly half an hour
    * of verification on 32 cores, and far past any sane banding — so an
    * UNATTENDED run with default arguments stops at the pre-flight
    * estimate instead of committing a cluster to a quadratic job (r15
    * measured r=2 banding pricing 219M pairs at sf1; 100 TB multiplies
    * that). Opt out explicitly with `None` (or `Long.MaxValue` on the
    * exact join) after reading the priced estimate. */
  val DefaultMaxCandidates: Option[Long] = Some(1000000000L)

  /** Σ c·(c−1)/2 over a (band, bsig, count) bucket-size relation — the
    * EXACT pre-dedup candidate-pair output of the banded bucket join. */
  private def bucketCandidateVolume(bucketSizes: DataFrame): Long =
    bucketSizes.agg(sum(col("count") * (col("count") - 1) / 2).cast("long"))
      .first().get(0) match { case null => 0L; case l: Long => l }

  /** Pre-flight price of a [[minhashNearDups]] run with these parameters:
    * the exact number of candidate pairs the banded bucket join will emit
    * (pre-dedup) and verification will pay for. Spec-locked equal to the
    * join's own pre-dedup row count. Cost: the shingle+minhash pass plus
    * one small aggregation — run it when choosing banding for a new
    * corpus: high-recall banding (few rows per band) on a
    * shared-vocabulary corpus can go quadratic, and this is the number
    * that says so before the run does. */
  def estimateMinhashCandidates(df: DataFrame, idCol: String, textCol: String,
                                numHashes: Int = 64, bands: Int = 16,
                                shingleLen: Int = 5, seed: Int = 0,
                                maxBucketSize: Int = 1000): Long = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (_, banded, _) = shingleBandedCounted(df, idCol, textCol,
      numHashes, bands, shingleLen, seed)
    bucketCandidateVolume(banded.groupBy("band", "bsig").count()
      .filter(col("count") <= maxBucketSize && col("count") > 1))
  }

  /** Pre-flight price of a [[simhashNearDups]] run with these parameters:
    * the exact number of candidate pairs the chunk-bucket join will emit
    * (pre-Hamming, pre-dedup). Spec-locked equal to the join's own
    * pre-filter row count. Cost: the simhash pass plus one small
    * aggregation. */
  def estimateSimhashCandidates(df: DataFrame, idCol: String,
                                textCol: String, chunks: Int = 4,
                                seed: Int = 0,
                                maxBucketSize: Int = 1000): Long =
    bucketCandidateVolume(
      simhashChunked(df, idCol, textCol, chunks, seed)
        .groupBy("chunk", "csig").count()
        .filter(col("count") <= maxBucketSize && col("count") > 1))

  /** Pre-flight price of an [[embeddingNearDups]] run with these
    * parameters: the exact number of candidate pairs the sign-bucket
    * join will emit (pre-dedup) and exact-cosine verification will pay
    * for. Spec-locked equal to the join's own pre-dedup row count. */
  def estimateEmbeddingCandidates(df: DataFrame, idCol: String,
                                  vecCol: String, dim: Int, bits: Int = 8,
                                  tables: Int = 8, seed: Long = 42L,
                                  maxBucketSize: Int = 100000): Long =
    bucketCandidateVolume(
      embeddingBanded(df, idCol, vecCol, dim, bits, tables, seed)
        .groupBy("table", "bucket").count()
        .filter(col("count") <= maxBucketSize && col("count") > 1))

  /** Shared front half of [[jaccardJoinExact]] and
    * [[estimateJaccardJoinCandidates]]: the pinned (id, sorted shingle
    * hashes) table and the pinned df-ranked prefix relation
    * (tok, id, len, pos, p_mid). Splitting it out guarantees the
    * estimator prices EXACTLY the relation the join will consume. */
  private def jaccardPrefix(df: DataFrame, idCol: String, textCol: String,
                            shingleLen: Int, threshold: Double)
      : (DataFrame, DataFrame, Long) = {
    // the broadcast-sizing doc count rides the pin as an observed metric
    // sh feeds the freq pass, the prefix pass, and both verify sides
    val (sh, nSh) = Pin.counted(df.select(col(idCol).as("id"),
        shingleHashes(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0))
    val toks = sh.select(col("id"), explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc token array re-ranked (df asc, tok asc) — a total order
    // shared by all docs, which is all the prefix theorem needs
    val ordered = toks.join(freq, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ft"))
      .withColumn("len", size(col("ft")))
    // Two prefix depths (PPJoin's asymmetric trick for self-joins): a
    // qualifying pair needs overlap α = ⌈τ/(1+τ)(|S|+|L|)⌉, which for
    // the SMALLER set S (|L| ≥ |S|) is ≥ ⌈2τ/(1+τ)·|S|⌉ — so S only
    // probes with the tighter "mid" prefix |S| − ⌈2τ/(1+τ)|S|⌉ + 1,
    // while the larger side indexes the standard ⌈τ|L|⌉-derived prefix.
    // The shared-token lemma (overlap ≥ α ⇒ a common token inside both
    // |X|−α+1 prefixes) then still guarantees every qualifying pair one
    // joined row. pMid ≤ pLong, so one explode serves both roles and
    // the smaller side is the `pos < p_mid` subset.
    val prefix = Pin.eager(ordered
      .withColumn("p",
        (col("len") - ceil(lit(threshold) * col("len")) + 1).cast("int"))
      .withColumn("p_mid",
        (col("len") - ceil(lit(2 * threshold / (1 + threshold)) * col("len")) + 1)
          .cast("int"))
      .select(col("id"), col("len"), col("p_mid"),
        posexplode(slice(col("ft"), lit(1), col("p"))).as(Seq("pos", "e")))
      .select(col("e.tok").as("tok"), col("id"), col("len"), col("pos"),
        col("p_mid"))) // the self-join reads it twice
    (sh, prefix, nSh)
  }

  /** Per-token Σ |small-prefix occurrences| × |prefix occurrences| — by
    * the join's construction EXACTLY its pre-filter output row count
    * (the equality is spec-locked), hence an upper bound on the deduped
    * candidate pair set the verification stage pays for. One
    * aggregation over the pinned prefix relation. */
  private def candidateVolume(prefix: DataFrame): Long =
    prefix.groupBy("tok")
      .agg(sum(when(col("pos") < col("p_mid"), 1L).otherwise(0L)).as("ns"),
        count(lit(1)).as("na"))
      .agg(coalesce(sum(col("ns") * col("na")), lit(0L)))
      .head().getLong(0)

  /** Pre-flight cost estimate for [[jaccardJoinExact]] WITHOUT running
    * the join: the exact number of rows its prefix self-join will emit
    * before filtering (two token-keyed aggregation passes — the same
    * cheap front half the join itself pays; none of the quadratic part).
    * Rule of thumb from the sf1 probe corpus: ~70M candidate rows ≈
    * 140 s of verification on 32 local cores — price a corpus BEFORE
    * launching, and prefer [[minhashNearDups]] when the estimate is
    * quadratic-shaped. For an estimate-then-run flow in ONE job, pass
    * `maxCandidates` to [[jaccardJoinExact]] instead: the join prices
    * itself against the same estimate off its own pinned prefix
    * relation, so the linear front half is derived once — this
    * standalone form re-derives it and is meant for planning runs
    * (often on a sample) decoupled from the launch. */
  def estimateJaccardJoinCandidates(df: DataFrame, idCol: String,
                                    textCol: String, shingleLen: Int = 5,
                                    threshold: Double = 0.8): Long = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    candidateVolume(jaccardPrefix(df, idCol, textCol, shingleLen, threshold)._2)
  }

  /** EXACT set-similarity self-join by prefix filtering (PPJoin,
    * Xiao et al. '08): every pair with shingle-Jaccard ≥ `threshold`,
    * with NO false negatives — the guarantee [[minhashNearDups]] trades
    * away for fewer candidates. Same output contract: (id_a, id_b,
    * jaccard), id_a < id_b.
    *
    * Candidate generation is exact-complete without all-pairs:
    * each doc's distinct shingle hashes are re-ranked by ASCENDING
    * global document frequency (rarest first — the order that keeps
    * corpus-frequent shingles out of prefixes), and only the first
    * `|A| − ⌈τ·|A|⌉ + 1` tokens explode as join keys: two sets with
    * J ≥ τ must share ≥ ⌈τ·max(|A|,|B|)⌉ tokens, so their prefixes
    * under ANY common total order overlap in ≥ 1 token. Candidates are
    * then pruned by the symmetric length filter (τ·|A| ≤ |B| ≤ |A|/τ)
    * and PPJoin's positional upper bound
    * (`min(|A|−i, |B|−j) ≥ ⌈τ/(1+τ)·(|A|+|B|)⌉` for 0-based prefix
    * positions i, j — the FIRST shared prefix token of a qualifying
    * pair always survives it), and verified with the exact sorted-merge
    * Jaccard via an EARLY-ABANDONING threshold-aware walk
    * ([[graft.functions.JaccardSortedAtLeast]]) — on the broadcast
    * verify path the walk runs on the raw candidate rows BEFORE the
    * pair dedup, eliminating the full-candidate-volume shuffle. All
    * prunes are proven lossless in JaccardJoinSpec by pair-set equality
    * with brute force.
    *
    * Scale shape: two token-keyed shuffles (frequency count + the
    * re-rank join) and the prefix self-join — O(docs × prefix) join
    * keys, never O(docs²). Hot shingles skew the re-rank join's token
    * key; AQE's skew split handles it (values per token are (id) pairs
    * only, 16 bytes). Unlike the banded operators there is NO bucket
    * cap: a cap would silently break the exactness contract. A corpus
    * whose prefixes still contain mega-frequent tokens (τ close to 0)
    * is the operator's honest worst case — at τ ≥ 0.5 prefixes are
    * under half of each doc, frequency-ranked from the rare end.
    *
    * Pre-flight guard: the estimated candidate volume (see
    * [[estimateJaccardJoinCandidates]]) is computed and logged before
    * the join runs; past `maxCandidates` (default [[DefaultMaxCandidates]]; opt out with `Long.MaxValue`)
    * the call fails with the estimate and the minhash recommendation
    * instead of launching a quadratic job.
    *
    * FLOOR REACHED (bounded-vocabulary corpora): three rounds of
    * measured filter experiments ended here. A suffix-sum bound and an
    * accumulated-positional (ppos) bound were both built and measured
    * pruning ~0 of 70.4M sf1 candidate pairs (frequency-ranked prefixes
    * make shared tokens consecutive, defeating positional slack), and
    * the last hypothesized lever — repartitioning verification by
    * prefix-token frequency to break a hot shingle's candidate block —
    * was refuted by a per-task listener measurement: worst stage
    * max/mean task-time ratio 1.41 at sf1, i.e. the verify is already
    * balanced and there is no straggler to split. What remains is the
    * intrinsic cost of exactly verifying a quadratic-shaped candidate
    * set; [[minhashNearDups]] (banded, capped, near-identical recall at
    * τ ≥ 0.8) is the scale route when exactness is negotiable. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 5,
                       threshold: Double = 0.8,
                       broadcastVerify: Option[Boolean] = None,
                       broadcastVerifyMaxRows: Long = 1000000L,
                       maxCandidates: Long = DefaultMaxCandidates.get): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxCandidates > 0, s"maxCandidates must be > 0, got $maxCandidates")
    val (sh, prefix, nDocs) = jaccardPrefix(df, idCol, textCol, shingleLen, threshold)
    // pre-flight guard: the prefix relation is already pinned, so the
    // volume estimate is one cheap aggregation over checkpointed blocks
    // — a fraction of the join it predicts. Quadratic candidate growth
    // is this operator's honest worst case (exactness forbids bucket
    // caps); surface it BEFORE a 100 TB job commits to it.
    priceCandidates(CandidatePrice("jaccardJoinExact", Some(maxCandidates),
      s"shingleLen=$shingleLen, threshold=$threshold",
      "On bounded-vocabulary corpora the exact prefix join grows " +
        "quadratically; use minhashNearDups (banded, capped, near-identical " +
        "recall at threshold >= 0.8) or raise maxCandidates deliberately."),
      candidateVolume(prefix))
    val sideSmall = prefix.filter(col("pos") < col("p_mid"))
      .select(col("tok"), col("id").as("id_a"), col("len").as("len_a"),
        col("pos").as("pos_a"))
    val sideLarge = prefix.select(col("tok"), col("id").as("id_b"),
      col("len").as("len_b"), col("pos").as("pos_b"))
    val alpha = ceil(lit(threshold) / (1 + threshold) *
      (col("len_a") + col("len_b")))
    // role order: smaller (len, id) probes larger — every unordered pair
    // is considered exactly once
    // (an ACCUMULATED positional bound — group per pair, prune on
    // c + min(suffix after the last shared prefix token) — was measured
    // here at sf1: it pruned 0 of 70.4M candidate pairs on the
    // bounded-vocabulary probe corpus, because frequency-ranked prefixes
    // make the shared tokens consecutive, while widening every
    // pre-shuffle row by 16 bytes. The per-row first-match bound below
    // is the version of the ppos filter that pays for itself.)
    val candRows = sideSmall.join(sideLarge, "tok")
      .filter(col("len_a") < col("len_b") ||
        (col("len_a") === col("len_b") && col("id_a") < col("id_b")))
      .filter(col("len_b") >= ceil(lit(threshold) * col("len_a")) &&
        col("len_a") >= ceil(lit(threshold) * col("len_b")))
      .filter(least(col("len_a") - col("pos_a"),
        col("len_b") - col("pos_b")) >= alpha)
      .select(col("id_a"), col("id_b"))
    // verify side tables: same broadcast policy as minhashNearDups —
    // on a dense corpus the candidate set is orders of magnitude larger
    // than the doc table, so shipping (id → shingles) to every task
    // beats attaching 2×|doc| arrays to millions of candidate rows
    val doBroadcast = broadcastVerify.getOrElse {
      // the doc count rode the sh pin as an observed metric — no count job
      autoBroadcastVerify("jaccardJoinExact", nDocs,
        broadcastVerifyMaxRows, estBytesPerRow = 2560L)
    }
    def vside(n: String) = {
      val s0 = sh.select(col("id").as(s"id_$n"), col("sh").as(s"sh_$n"))
      if (doBroadcast) broadcast(s0) else s0
    }
    // verification kernel: threshold-aware early-abandon merge walk —
    // NULL below τ, the exact Jaccard at or above it (row-for-row equal
    // to filtering jaccardSorted >= τ; JaccardJoinSpec pins the parity).
    // Almost every candidate is a non-match that abandons within its
    // first few steps, so walks stop pricing the verification.
    def verified(cand: DataFrame) = cand
      .join(vside("a"), "id_a")
      .join(vside("b"), "id_b")
      .withColumn("jaccard",
        jaccardSortedAtLeast(col("sh_a"), col("sh_b"), threshold))
      .filter(col("jaccard").isNotNull)
    val pairs =
      if (doBroadcast)
        // broadcast path: verify the raw candidate ROWS map-side (two
        // broadcast-hash probes + an early-abandon walk per row, inside
        // the join stage) and deduplicate the few SURVIVORS — the
        // shuffle that would otherwise deduplicate the full candidate
        // row volume (sf1: 149M rows, the single most expensive stage
        // of this join) disappears; the price is one redundant abandoned
        // walk per extra shared prefix token (~2× here), far cheaper
        // than hashing+shuffling every row
        verified(candRows).dropDuplicates("id_a", "id_b")
      else
        // shuffle path: attaching arrays to the full row volume would
        // dwarf the dedup shuffle — deduplicate the 16-byte pair rows
        // first, then verify once per distinct pair
        verified(candRows.dropDuplicates("id_a", "id_b"))
    pairs
      // the (len, id) role order is not id order — normalize the output
      // contract id_a < id_b here
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("jaccard"))
  }

  /** N-gram Jaccard similarity for an explicit pair set (verification-style
    * API): joins the pair list to the corpus twice and scores. */
  def ngramJaccard(pairs: DataFrame, corpus: DataFrame, idCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    val sh = corpus.select(col(idCol).as("__id"), shingleHashes(col(textCol), n).as("__sh"))
    pairs
      .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }
}
