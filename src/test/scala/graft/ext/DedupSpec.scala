package graft.ext

import graft.GraftFunctions._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup / similarity / text operators over small synthetic corpora. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = {
    val base = (0L until 50L).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i, words.mkString(" "))
    }
    // near-dups of the first 10 docs: drop the last two words
    val near = base.take(10).map { case (i, t) =>
      (i + 1000L, t.split(" ").dropRight(2).mkString(" "))
    }
    (base ++ near).toDF("doc_id", "text").cache()
  }

  behavior of "exact dedup"

  it should "group duplicates and pick min-id representatives" in {
    val df = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "y", "p"))
      .toDF("id", "a", "b")
    val got = Dedup.exact(df, "id", Seq("a", "b")).orderBy("a")
      .select("a", "id", "dup_count").as[(String, Long, Long)].collect()
    got shouldBe Array(("x", 1L, 2L), ("y", 3L, 1L))
  }

  it should "dedup by fingerprint with identical groups" in {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("id", "t")
    val got = Dedup.exactByFingerprint(df, "id", "t")
      .select("id", "dup_count").orderBy("id").as[(Long, Long)].collect()
    got shouldBe Array((1L, 2L), (3L, 1L))
  }

  behavior of "incremental dedup (newAgainst)"

  it should "equal a plain fingerprint anti join, bloom notwithstanding" in {
    val existing = Seq((1L, "alpha text"), (2L, "beta text"), (3L, (null: String)))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha text"), // exact dup -> dropped
      (11L, "gamma text"), // new -> kept
      (12L, (null: String)), // null matches existing null fingerprint -> dropped
      (13L, "beta text"), // dup -> dropped
      (14L, "delta")) // new -> kept
      .toDF("doc_id", "text")
    val got = Dedup.newAgainst(existing, incoming, "text")
      .select("doc_id").as[Long].collect().sorted
    got shouldBe Array(11L, 14L)
    // a high-fpp bloom (forces false positives through verification)
    // must produce the identical answer
    Dedup.newAgainst(existing, incoming, "text", bloomFpp = 0.5)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(11L, 14L)
    // empty existing: incoming unchanged, columns intact
    val none = existing.filter(lit(false))
    Dedup.newAgainst(none, incoming, "text").columns.toSeq shouldBe Seq("doc_id", "text")
    Dedup.newAgainst(none, incoming, "text").count() shouldBe 5L
  }

  it should "dedup a batch against the synthetic corpus exactly" in {
    // split the shared corpus: first 30 ids are the accumulated side, the
    // rest (incl. the 1000+ near-dups, which are NOT exact dups) incoming
    val existing = corpus.filter(col("doc_id") < 30)
    val incoming = corpus.filter(col("doc_id") >= 30)
      .unionByName(corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val expect = incoming.join(existing.select("text"), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    val got = Dedup.newAgainst(existing, incoming, "text")
      .select("doc_id").as[Long].collect().sorted
    got shouldBe expect
    // the planted re-keyed copies were all dropped
    got.count(_ >= 5000L) shouldBe 0
  }

  behavior of "minhashNearDups"

  it should "recover all constructed near-dup pairs and no exact-identical misses" in {
    val pairs = Dedup.minhashNearDups(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, shingleLen = 5, threshold = 0.5)
    val constructed = pairs.filter(col("id_b") === col("id_a") + 1000).count()
    constructed shouldBe 10L
    // jaccard column is a real similarity: bounded and high for the pairs
    val js = pairs.filter(col("id_b") === col("id_a") + 1000)
      .select("jaccard").as[Double].collect()
    all(js) should (be > 0.5 and be <= 1.0)
    // shuffle-join verification (the too-big-to-broadcast fallback) must
    // produce the identical pair set
    val shuffled = Dedup.minhashNearDups(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, shingleLen = 5, threshold = 0.5,
        broadcastVerify = Some(false))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    shuffled shouldBe pairs.select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
  }

  it should "price its candidate volume exactly and fail fast past maxCandidates" in {
    // the estimator must equal the banded bucket join's pre-dedup output
    val est = Dedup.estimateMinhashCandidates(corpus, "doc_id", "text",
      numHashes = 64, bands = 32)
    val joined = {
      import graft.GraftFunctions._
      val sh = corpus.select(col("doc_id").as("id"),
          shingleHashes(col("text"), 5).as("sh"))
        .filter(org.apache.spark.sql.functions.size(col("sh")) > 0)
      val sig = sh.withColumn("sig", minhash(col("sh"), 64, 0))
      val bandStructs = (0 until 32).map { b =>
        struct(lit(b).as("band"),
          farmHash64(slice(col("sig"), b * 2 + 1, 2)).as("bsig"))
      }
      val banded = sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("id"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
      val sizes = banded.groupBy("band", "bsig").count()
        .filter(col("count") <= 1000 && col("count") > 1)
      val a = banded.select(col("band"), col("bsig"), col("id").as("id_a"))
      val b = banded.select(col("band"), col("bsig"), col("id").as("id_b"))
      a.join(sizes, Seq("band", "bsig")).join(b, Seq("band", "bsig"))
        .filter(col("id_a") < col("id_b")).count()
    }
    est shouldBe joined
    // the opt-in hard stop names the estimate
    val e = the[IllegalStateException] thrownBy
      Dedup.minhashNearDups(corpus, "doc_id", "text", numHashes = 64,
        bands = 32, threshold = 0.5, maxCandidates = Some(est - 1))
    e.getMessage should include(est.toString)
    // at or above the estimate the join runs and still finds the planted pairs
    Dedup.minhashNearDups(corpus, "doc_id", "text", numHashes = 64,
        bands = 32, threshold = 0.5, maxCandidates = Some(est))
      .filter(col("id_b") === col("id_a") + 1000).count() shouldBe 10L
  }

  it should "cap candidate volume BY DEFAULT across every banded join" in {
    // an unattended 100 TB run with default arguments must stop at the
    // pre-flight estimate, not commit a cluster to a quadratic job: the
    // protective ceiling is the DEFAULT, opting OUT is what's explicit.
    // The compiler-generated default getters pin the wiring — a
    // regression of any signature back to None breaks here.
    Dedup.DefaultMaxCandidates shouldBe Some(1000000000L)
    Dedup.minhashNearDups$default$12 shouldBe Dedup.DefaultMaxCandidates
    Dedup.minhashNewAgainst$default$14 shouldBe Dedup.DefaultMaxCandidates
    Dedup.simhashNearDups$default$8 shouldBe Dedup.DefaultMaxCandidates
    Dedup.embeddingNearDups$default$12 shouldBe Dedup.DefaultMaxCandidates
    Dedup.clusterNearDups$default$11 shouldBe Dedup.DefaultMaxCandidates
    Dedup.jaccardJoinExact$default$8 shouldBe Dedup.DefaultMaxCandidates.get
    Split.leakageSafeSplit$default$14 shouldBe Dedup.DefaultMaxCandidates
    // and None still opts out: the same over-cap corpus that fails fast
    // under an explicit tiny cap runs uncapped
    val est = Dedup.estimateMinhashCandidates(corpus, "doc_id", "text",
      numHashes = 64, bands = 32)
    est should be > 0L
    Dedup.minhashNearDups(corpus, "doc_id", "text", numHashes = 64,
        bands = 32, threshold = 0.5, maxCandidates = None)
      .filter(col("id_b") === col("id_a") + 1000).count() shouldBe 10L
  }

  it should "reject degenerate chunk counts in the simhash front half" in {
    // chunks=0 used to divide by zero; chunks>64 gives 0-bit signatures
    // whose single corpus-sized bucket silently prices as "no candidates"
    intercept[IllegalArgumentException](
      Dedup.estimateSimhashCandidates(corpus, "doc_id", "text", chunks = 0))
    intercept[IllegalArgumentException](
      Dedup.estimateSimhashCandidates(corpus, "doc_id", "text", chunks = 100))
  }

  it should "respect the bucket-size cap (oversized buckets drop pairs)" in {
    // 30 identical docs -> every band bucket has size 30 > cap 10
    val same = (0L until 30L).map(i => (i, "all documents share this exact text body"))
      .toDF("doc_id", "text")
    Dedup.minhashNearDups(same, "doc_id", "text", maxBucketSize = 10).count() shouldBe 0L
    Dedup.oversizedBuckets(same, "doc_id", "text", maxBucketSize = 10)
      .count() should be > 0L
  }

  behavior of "keepBest"

  it should "keep the highest-scoring member per cluster with id tie-break, singletons always" in {
    val df = Seq(
      (1L, "a", 0.5), (2L, "a", 0.9), (3L, "a", 0.9), // cluster a: 2 wins (tie w/ 3)
      (4L, "b", 0.1),                                 // singleton in components
      (5L, "c", 0.7)                                  // absent from components
    ).toDF("id", "grp", "score")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)).toDF("id", "component")
    val kept = Dedup.keepBest(df, "id", comp, "score")
      .select("id").as[Long].collect().sorted
    kept shouldBe Array(2L, 4L, 5L)
  }

  it should "rank null scores below any scored member" in {
    val df = Seq((1L, Some(0.1)), (2L, None: Option[Double]))
      .toDF("id", "score")
    val comp = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    Dedup.keepBest(df, "id", comp, "score")
      .select("id").as[Long].collect() shouldBe Array(1L)
    // all-null cluster still keeps exactly one (lowest id)
    val dfn = Seq((7L, None: Option[Double]), (6L, None: Option[Double]))
      .toDF("id", "score")
    val compn = Seq((6L, 6L), (7L, 6L)).toDF("id", "component")
    Dedup.keepBest(dfn, "id", compn, "score")
      .select("id").as[Long].collect() shouldBe Array(6L)
  }

  behavior of "dedupReport"

  it should "histogram cluster sizes with exact redundancy accounting" in {
    val df = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s2"), (5L, "s1"),
      (9L, "s2")).toDF("id", "src")
    // clusters: {1,2,5} labeled 1, {3,4} labeled 3; 9 absent = singleton
    val comp = Seq((1L, 1L), (2L, 1L), (5L, 1L), (3L, 3L), (4L, 3L))
      .toDF("id", "component")
    val rep = Dedup.dedupReport(df, "id", comp)
      .as[(Long, Long, Long, Long)].collect().toSeq
    rep shouldBe Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L))
    rep.map(_._3).sum shouldBe 6L // n_docs conservation
    // by-attribute: dropped rows charged to their OWN source
    val by = Dedup.dedupReportBy(df, "id", comp, "src")
      .as[(String, Long, Long)].collect().toSeq
    // dropped: 2 (s1), 5 (s1), 4 (s2); kept reps 1 (s1), 3 (s2), 9 (s2)
    by shouldBe Seq(("s1", 3L, 2L), ("s2", 3L, 1L))
  }

  behavior of "clusterNearDups"

  it should "label near-dups with their cluster's min id and singletons with their own" in {
    val doc = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (1L, doc),                                        // cluster of 3: 1,2,3
      (2L, doc),                                        // exact copy
      (3L, doc.split(" ").dropRight(1).mkString(" ")),  // near copy
      (7L, "completely different content about maritime navigation charts"),
      (9L, "a third unrelated passage concerning volcanic rock formations"))
      .toDF("doc_id", "text")
    val labeled = Dedup.clusterNearDups(df, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.5)
    labeled.count() shouldBe 5L
    labeled.columns.toSeq shouldBe Seq("doc_id", "text", "cluster")
    val m = labeled.select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    m shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 9L)
    // on the shared synthetic corpus: every constructed (i, i+1000) pair
    // shares a cluster, and the label is never larger than the member id
    val big = Dedup.clusterNearDups(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("doc_id", "cluster").as[(Long, Long)].collect().toMap
    (0L until 10L).foreach { i => big(i + 1000L) shouldBe big(i) }
    big.foreach { case (id, c) => c should be <= id }
  }

  it should "reject a cluster column that already exists" in {
    an[IllegalArgumentException] should be thrownBy
      Dedup.clusterNearDups(corpus.withColumn("cluster", lit(1)),
        "doc_id", "text")
  }

  behavior of "minhashNewAgainst"

  it should "price candidates and fail fast past maxCandidates, results unchanged below it" in {
    val existing = corpus.filter(col("doc_id") < 1000)
    val incoming = corpus.filter(col("doc_id") >= 1000)
    val free = Dedup.minhashNewAgainst(existing, incoming, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_new", "id_old").as[(Long, Long)].collect().toSet
    free should not be empty
    // a generous cap changes nothing
    Dedup.minhashNewAgainst(existing, incoming, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5,
        maxCandidates = Some(Long.MaxValue))
      .select("id_new", "id_old").as[(Long, Long)]
      .collect().toSet shouldBe free
    // matches exist, so the estimate is positive and a zero cap trips
    val e = the[IllegalStateException] thrownBy
      Dedup.minhashNewAgainst(existing, incoming, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5, maxCandidates = Some(0L))
    e.getMessage should include("maxCandidates")
  }

  it should "equal the self-join operator restricted to cross-side pairs" in {
    // split the corpus: originals = existing, near-copies (+1000) = incoming.
    // The incremental operator must find exactly the cross-side pairs the
    // self-join family finds (same bands/threshold, buckets under cap)
    val existing = corpus.filter(col("doc_id") < 1000)
    val incoming = corpus.filter(col("doc_id") >= 1000)
    val inc = Dedup.minhashNewAgainst(existing, incoming, "doc_id", "text",
        numHashes = 64, bands = 32, shingleLen = 5, threshold = 0.5)
      .select("id_new", "id_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val self = Dedup.minhashNearDups(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, shingleLen = 5, threshold = 0.5)
      .filter(col("id_b") >= 1000 && col("id_a") < 1000)
      .select(col("id_b"), col("id_a"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    inc shouldBe self
    inc.size should be >= 10 // the 10 constructed near-copies
  }

  it should "pass novel documents through with no pairs and survive an empty existing side" in {
    val existing = corpus.filter(col("doc_id") < 1000)
    val novel = Seq((5000L, "completely different content nothing shared qqq zzz")
      ).toDF("doc_id", "text")
    Dedup.minhashNewAgainst(existing, novel, "doc_id", "text",
      threshold = 0.5).count() shouldBe 0L
    val empty = existing.limit(0)
    val got = Dedup.minhashNewAgainst(empty, novel, "doc_id", "text")
    got.count() shouldBe 0L
    got.columns.toSeq shouldBe Seq("id_new", "id_old", "jaccard")
    // the empty-corpus fast path must type id_old from the EXISTING side
    // (the normal path's source) even when the two id types differ
    val emptyInt = existing
      .select(col("doc_id").cast("int").as("doc_id"), col("text")).limit(0)
    val got2 = Dedup.minhashNewAgainst(emptyInt, novel, "doc_id", "text")
    got2.schema("id_new").dataType shouldBe
      org.apache.spark.sql.types.LongType
    got2.schema("id_old").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
  }

  it should "never flag-miss a document the exact operator pairs (streaming flag parity)" in {
    val existing = corpus.filter(col("doc_id") < 1000)
    val incoming = corpus.filter(col("doc_id") >= 1000)
    val bloom = Dedup.nearDupBloom(existing, "doc_id", "text",
      numHashes = 64, bands = 32, bloomFpp = 0.0001)
    val flagged = incoming.withColumn("f",
        Dedup.maybeNearDuplicateFlag(col("text"), bloom, numHashes = 64, bands = 32))
      .filter(col("f")).select("doc_id").as[Long].collect().toSet
    val paired = Dedup.minhashNewAgainst(existing, incoming, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_new").as[Long].collect().toSet
    // Bloom filters have no false negatives: every exact-operator match
    // must have been flagged (the flag may add candidates, never lose one)
    paired.subsetOf(flagged) shouldBe true
    paired.size should be >= 10
    // a genuinely novel doc stays unflagged (deterministic for fixed data)
    val novel = Seq((9999L, "entirely foreign content zzz qqq jjj xxx vvv"))
      .toDF("doc_id", "text")
    novel.withColumn("f", Dedup.maybeNearDuplicateFlag(col("text"), bloom,
        numHashes = 64, bands = 32))
      .filter(col("f")).count() shouldBe 0L
    // null/empty text is definitively false, not null
    Seq((1L, null: String), (2L, "")).toDF("doc_id", "text")
      .withColumn("f", Dedup.maybeNearDuplicateFlag(col("text"), bloom,
        numHashes = 64, bands = 32))
      .select("f").as[Boolean].collect() shouldBe Array(false, false)
  }

  it should "flag null/empty text false even under a high-fpp bloom" in {
    // regression for the null-signature hole: an UNGUARDED probe hashes a
    // null minhash signature to a CONSTANT per-band key array, and at
    // fpp=0.3 × 32 bands the probability that at least one of those
    // constants false-positives is ~1-(1-.3)^32 ≈ 1 — every null/empty
    // doc in the stream would flag true together. The guarded flag must
    // stay definitively false regardless of the bloom's noise level.
    val bloom = Dedup.nearDupBloom(corpus, "doc_id", "text",
      numHashes = 64, bands = 32, bloomFpp = 0.3)
    Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, null: String))
      .toDF("doc_id", "text")
      .withColumn("f", Dedup.maybeNearDuplicateFlag(col("text"), bloom,
        numHashes = 64, bands = 32))
      .select("f").as[Boolean].collect() shouldBe Array.fill(4)(false)
  }

  it should "match against singleton existing buckets (no >1 bucket filter)" in {
    // ONE existing doc, one incoming near-copy: the pair must be found
    // even though every existing bucket has size 1
    val one = corpus.filter(col("doc_id") === 0L)
    val copy = one.select((col("doc_id") + 7000L).as("doc_id"), col("text"))
    val got = Dedup.minhashNewAgainst(one, copy, "doc_id", "text",
      threshold = 0.9)
    got.count() shouldBe 1L
    got.select("jaccard").as[Double].head() shouldBe 1.0
  }

  behavior of "simhashNearDups"

  it should "find heavily-overlapping docs within the Hamming budget" in {
    val pairs = Dedup.simhashNearDups(corpus, "doc_id", "text",
      maxHamming = 8, chunks = 16)
    pairs.filter(col("id_b") === col("id_a") + 1000).count() should be >= 8L
  }

  it should "price its candidate volume exactly and fail fast past maxCandidates" in {
    // the estimator must equal the chunk-bucket join's pre-Hamming
    // pre-dedup output — the same spec-lock minhashNearDups carries
    val chunks = 16
    val est = Dedup.estimateSimhashCandidates(corpus, "doc_id", "text",
      chunks = chunks)
    val joined = {
      val chunked = Dedup.simhashChunked(corpus, "doc_id", "text", chunks, 0)
      val sizes = chunked.groupBy("chunk", "csig").count()
        .filter(col("count") <= 1000 && col("count") > 1)
      val a = chunked.select(col("chunk"), col("csig"), col("id").as("id_a"))
      val b = chunked.select(col("chunk"), col("csig"), col("id").as("id_b"))
      a.join(sizes, Seq("chunk", "csig")).join(b, Seq("chunk", "csig"))
        .filter(col("id_a") < col("id_b")).count()
    }
    est shouldBe joined
    est should be > 0L // 16 4-bit chunks collide broadly on this corpus
    // the opt-in hard stop names the estimate
    val e = the[IllegalStateException] thrownBy
      Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 8,
        chunks = chunks, maxCandidates = Some(est - 1))
    e.getMessage should include(est.toString)
    // at or above the estimate the join runs and still finds the planted pairs
    Dedup.simhashNearDups(corpus, "doc_id", "text", maxHamming = 8,
        chunks = chunks, maxCandidates = Some(est))
      .filter(col("id_b") === col("id_a") + 1000).count() should be >= 8L
  }

  behavior of "ngramJaccard"

  it should "score an explicit pair list" in {
    val pairs = Seq((0L, 1000L), (0L, 25L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(pairs, corpus, "doc_id", "text", n = 5)
      .orderBy(col("jaccard").desc).select("id_b", "jaccard")
      .as[(Long, Double)].collect()
    got.head._1 shouldBe 1000L
    got.head._2 should be > got.last._2
  }

  behavior of "jaccardSorted kernel"

  it should "agree with set-based jaccard" in {
    val df = Seq((Seq("abcde", "bcdef", "cdefg"), Seq("bcdef", "cdefg", "zzzzz")))
      .toDF("a", "b")
    val j = df.select(jaccardSorted(hashedSet(col("a")), hashedSet(col("b"))))
      .as[Double].head()
    j shouldBe 0.5 +- 1e-12 // |∩|=2, |∪|=4
  }

  it should "early-abandon EXACTLY like filtering the plain walk at the threshold" in {
    // jaccardSortedAtLeast(a, b, τ) must be row-for-row the plain
    // jaccardSorted gated at τ — including AT the boundary, where a
    // sloppy abandonment bound would flip verdicts via double rounding.
    // Randomized sorted-distinct long sets across the selectivity range.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { k =>
      val n = 1 + rnd.nextInt(30)
      val overlap = rnd.nextInt(n + 1)
      val a = (0 until n).map(i => i.toLong * 7 + 1).sorted
      val b = (a.take(overlap) ++
        (0 until (n - overlap)).map(i => 100000L + i * 3 + k)).distinct.sorted
      (a, b)
    } :+ ((Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))) :+  // J = 1
      ((Seq(1L, 2L), Seq(3L, 4L)))                // J = 0
    val df = rows.toDF("a", "b")
    for (tau <- Seq(0.0, 0.2, 0.5, 2.0 / 3.0, 0.8, 1.0)) {
      val got = df.select(jaccardSortedAtLeast(col("a"), col("b"), tau))
        .as[Option[Double]].collect()
      val want = df.select(jaccardSorted(col("a"), col("b")))
        .as[Double].collect().map(j => if (j >= tau) Some(j) else None)
      got should contain theSameElementsInOrderAs want
    }
    // null/empty contract mirrors jaccardSorted: null in -> null out,
    // both-empty -> null; one-empty at τ>0 abandons to null
    val edge = Seq((Some(Seq.empty[Long]), Some(Seq.empty[Long])),
      (None, Some(Seq(1L))), (Some(Seq(1L)), None),
      (Some(Seq.empty[Long]), Some(Seq(1L))))
      .toDF("a", "b")
    edge.select(jaccardSortedAtLeast(col("a"), col("b"), 0.5))
      .as[Option[Double]].collect() shouldBe
      Array(None, None, None, None)
  }

  behavior of "near-dup candidate pricing and Jaccard verification"

  it should "each live in one shared step" in {
    val root = new java.io.File("src/main/scala/graft/ext")
    root.isDirectory shouldBe true
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    // pattern -> the Dedup members allowed to hold it (ngramJaccard scores
    // an explicit pair list with no threshold: the one listed exemption)
    val rules = Seq(
      "\"[^\"\n]*estimated candidate volume".r -> Set("priceCandidates"),
      """\bjaccardSorted\s*\(""".r -> Set("verifyJaccard", "ngramJaccard"))
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val hits = for {
      f <- scalaFiles(root)
      text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      lines = text.split("\n", -1).toSeq
      (pattern, allowed) <- rules
      m <- pattern.findAllMatchIn(text)
      line = text.substring(0, m.start).count(_ == '\n')
      l = lines(line).trim
      if !(l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      owner = lines.take(line + 1).reverseIterator
        .flatMap(member.findPrefixMatchOf(_)).map(_.group(1)).nextOption()
      if !(f.getName == "Dedup.scala" && owner.exists(allowed))
    } yield s"${f.getPath}:${line + 1}: $l"
    withClue(hits.mkString("\n")) { hits shouldBe empty }
  }
}

/** Connected components over pair lists + keep-one dedup. */
class ClusterSpec extends graft.SparkSpec {
  import spark.implicits._

  it should "label chains, triangles, and disjoint clusters by min id" in {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    cc(1L) shouldBe 1L; cc(2L) shouldBe 1L; cc(3L) shouldBe 1L; cc(4L) shouldBe 1L
    cc(10L) shouldBe 10L; cc(11L) shouldBe 10L; cc(12L) shouldBe 10L
    cc(20L) shouldBe 20L; cc(21L) shouldBe 20L
  }

  it should "converge on a long chain within maxIter via min propagation" in {
    // a 64-link chain: worst diameter for label propagation
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 70)
    cc.select(countDistinct(col("component"))).head().getLong(0) shouldBe 1L
    cc.agg(min("component")).head().getLong(0) shouldBe 0L
  }

  it should "return an empty labeling for an empty pair list" in {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    Dedup.connectedComponents(pairs).count() shouldBe 0L
  }

  it should "produce identical labels on the driver and distributed paths" in {
    // random-ish graph: chains, a triangle, singleton-free
    val rnd = new scala.util.Random(3)
    val pairs = (0 until 300).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b) + 1) // avoid self-loops
    }.toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    // driverCap = 0 forces the distributed min-label propagation loop
    val dist = Dedup.connectedComponents(pairs, driverCap = 0L)
      .as[(Long, Long)].collect().toMap
    fast shouldBe dist
  }

  it should "drop null-id pairs identically on the driver and distributed paths" in {
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (4L, null), (5L, 6L)).toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, driverCap = 0L)
      .as[(Long, Long)].collect().toMap
    fast shouldBe dist
    // 3 and 4 only ever appear opposite a null id: excluded from the graph
    fast.keySet shouldBe Set(1L, 2L, 5L, 6L)
    fast(2L) shouldBe 1L
    fast(6L) shouldBe 5L
  }

  it should "drop every non-representative and keep singletons" in {
    val docs = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    val kept = Dedup.dropNearDups(docs, "doc_id", cc)
      .select("doc_id").as[Long].collect().sorted
    // 2,3,11 dropped; representatives 1,10 and all singletons kept
    kept shouldBe ((1L to 30L).toSet -- Set(2L, 3L, 11L)).toSeq.sorted
  }
}

/** Embedding-cosine near-dup: constructed near-identical vectors must be
  * recovered; orthogonal vectors must not pair. */
class EmbeddingDedupSpec extends graft.SparkSpec {
  import spark.implicits._

  it should "pair near-identical embeddings and skip dissimilar ones" in {
    val dim = 16
    val rnd = new scala.util.Random(11)
    val base = (0L until 40L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    // ids 1000+i are tiny perturbations of i (cos ~ 0.999)
    val near = base.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val df = (base ++ near).toDF("id", "emb")
    val pairs = Dedup.embeddingNearDups(df, "id", "emb", dim,
      simThreshold = 0.98, bits = 4, tables = 12)
    val constructed = pairs.filter(col("id_b") === col("id_a") + 1000).count()
    constructed shouldBe 10L
    // random gaussian pairs essentially never reach cos >= 0.98
    pairs.filter(col("id_b") =!= col("id_a") + 1000).count() shouldBe 0L

    // the shuffle-join verification path (the 1e9-doc fallback where the
    // vector table cannot broadcast) must produce the identical pair set
    val shuffled = Dedup.embeddingNearDups(df, "id", "emb", dim,
        simThreshold = 0.98, bits = 4, tables = 12,
        broadcastVerify = Some(false))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    shuffled shouldBe pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
  }

  it should "price its candidate volume exactly and fail fast past maxCandidates" in {
    val dim = 16
    val rnd = new scala.util.Random(12)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq))
    val near = base.take(10).map { case (i, v) =>
      (i + 1000L, v.map(x => x + rnd.nextGaussian().toFloat * 0.01f))
    }
    val df = (base ++ near).toDF("id", "emb")
    // the estimator must equal the sign-bucket join's pre-dedup output
    val est = Dedup.estimateEmbeddingCandidates(df, "id", "emb", dim,
      bits = 4, tables = 12)
    val joined = {
      val banded = Dedup.embeddingBanded(df, "id", "emb", dim, 4, 12, 42L)
      val sizes = banded.groupBy("table", "bucket").count()
        .filter(col("count") <= 100000 && col("count") > 1)
      val a = banded.select(col("table"), col("bucket"), col("id").as("id_a"))
      val b = banded.select(col("table"), col("bucket"), col("id").as("id_b"))
      a.join(sizes, Seq("table", "bucket")).join(b, Seq("table", "bucket"))
        .filter(col("id_a") < col("id_b")).count()
    }
    est shouldBe joined
    est should be > 0L // 4-bit sign buckets collide on 50 vectors
    // the opt-in hard stop names the estimate
    val e = the[IllegalStateException] thrownBy
      Dedup.embeddingNearDups(df, "id", "emb", dim, simThreshold = 0.98,
        bits = 4, tables = 12, maxCandidates = Some(est - 1))
    e.getMessage should include(est.toString)
    // at or above the estimate the join runs and still recovers the pairs
    Dedup.embeddingNearDups(df, "id", "emb", dim, simThreshold = 0.98,
        bits = 4, tables = 12, maxCandidates = Some(est))
      .filter(col("id_b") === col("id_a") + 1000).count() shouldBe 10L
  }

  behavior of "autoBroadcastVerify"

  it should "bound the broadcast byte budget by the driver heap" in {
    // the r19 sf10 probe measured a flat 2 GB cutoff choosing to broadcast
    // a ~1.2 GB-estimated shingle relation on an 8 GB driver, which then
    // died in the broadcast build — the budget must scale with the heap
    Dedup.MaxBroadcastVerifyBytes should be <= (1L << 31)
    Dedup.MaxBroadcastVerifyBytes should be <= Runtime.getRuntime.maxMemory() / 8
    // rows under the cap but bytes over it: shuffle-join
    val overBytes = Dedup.MaxBroadcastVerifyBytes / 2560L + 1L
    Dedup.autoBroadcastVerify("spec", overBytes, maxRows = Long.MaxValue,
      estBytesPerRow = 2560L) shouldBe false
    // small side: broadcast
    Dedup.autoBroadcastVerify("spec", 1000L, maxRows = Long.MaxValue,
      estBytesPerRow = 2560L) shouldBe true
  }
}
