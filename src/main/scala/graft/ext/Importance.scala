package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
  * arXiv:2302.03169) re-expressed as Spark aggregations: score every
  * document by how much more likely its tokens are under a TARGET
  * distribution (e.g. the wiki-like or in-domain slice you want more of)
  * than under the RAW corpus distribution, then select by that score.
  *
  * The score is the unigram log-likelihood ratio
  * `Σ_w c(w,d) · ln(p_tgt(w) / p_raw(w))` with add-one smoothing over the
  * joint vocabulary — the hashed-feature generative model of the paper
  * with the n-gram order fixed at 1 (exact vocabulary) or with the
  * paper's hashed buckets ([[hashedImportanceScores]]).
  *
  * Two paths, one contract:
  *   - [[importanceScores]] — EXACT vocabulary. Scale shape: one explode +
  *     per-(doc,word) partial-agg, one word-keyed vocabulary aggregation
  *     (map-side combined — the shuffle carries (word, count) pairs, not
  *     occurrences), one word-keyed join back, one doc-keyed final agg.
  *     The vocabulary relation at 100 TB is large but bounded by distinct
  *     words, and every stage is a hash shuffle — no windows, no driver
  *     funnels. The totals row attaches via a 1-row broadcast cross join
  *     (the engine's standard scalar pattern).
  *   - [[hashedImportanceScores]] — the paper's fixed-width hashed feature
  *     space (default 2^13 buckets like DSIR). The "vocabulary" is now AT
  *     MOST `nBuckets` rows regardless of corpus size, so the LM table
  *     BROADCASTS and the word-keyed shuffle disappears: explode →
  *     bucket partial-agg (nBuckets-bounded) → broadcast join → doc agg.
  *     This is the 100 TB path; collisions are the accepted DSIR
  *     trade-off (the paper shows hashed n-grams preserve selection
  *     quality).
  *
  * Deterministic importance RESAMPLING (the paper's Gumbel top-k) is
  * [[gumbelTopFraction]]: perturb `score/temperature` with a Gumbel
  * variable derived from a seeded per-row hash and keep the top fraction
  * via the engine's scale-safe [[ScoreFilter.keepTopFraction]] (order-bits
  * histogram + boundary-only rank — no global sort).
  *
  * Reference anchor: the sampling surface extends ratatool's
  * BigSampler hash-dice determinism idiom (BigSampler.scala:61-81) to
  * distribution-matching selection; the scoring math is DSIR's, not the
  * reference's.
  */
object Importance {

  /** Per-document unigram importance scores, exact vocabulary.
    *
    * @param isTarget row predicate marking the TARGET slice (its token
    *        distribution is the numerator; the WHOLE input is the raw
    *        denominator, target rows included — DSIR's raw pool likewise
    *        contains target-like mass)
    * @return (id, n_tokens, imp_logratio) — one row per input document;
    *         empty documents score 0.0 with n_tokens 0
    */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
                       isTarget: Column): DataFrame = {
    val base = df.select(col(idCol).as("id"), isTarget.as("tgt"),
      scriptTokens(lower(col(textCol))).as("ws"))
    val dw = base
      .select(col("id"), col("tgt"), explode(col("ws")).as("w"))
      .groupBy("id", "tgt", "w").agg(count(lit(1)).as("c"))
    scoreAgainstLm(base, dw, broadcastLm = false)
  }

  /** The hashed paths' shared feature stream: space-joined word n-grams
    * of `lower`ed whitespace tokens (order 1 = the tokens themselves).
    * Training and scoring MUST build grams identically or the frozen LM
    * scores garbage — hence one builder. Docs with fewer than n words
    * yield an empty array. */
  private[ext] def ngramTokens(text: Column, n: Int): Column = {
    val ws = scriptTokens(lower(text))
    if (n == 1) ws
    else when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
      .otherwise(array())
  }

  /** Per-document importance scores over DSIR's hashed feature space:
    * word n-grams land in `pmod(xxhash64(gram), nBuckets)` buckets and the
    * LM is estimated per bucket. The LM table is ≤ nBuckets rows — it
    * broadcasts, and no word-keyed shuffle exists at any corpus size.
    * `ngramOrder` is the paper's n (DSIR uses hashed BIGRAMS by default;
    * order 1 keeps the unigram behavior): higher orders see word ORDER,
    * which unigram models provably cannot. `n_tokens` counts grams. */
  def hashedImportanceScores(df: DataFrame, idCol: String, textCol: String,
                             isTarget: Column,
                             nBuckets: Int = 8192,
                             ngramOrder: Int = 1): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(ngramOrder >= 1, s"ngramOrder must be >= 1, got $ngramOrder")
    val base = df.select(col(idCol).as("id"), isTarget.as("tgt"),
      ngramTokens(col(textCol), ngramOrder).as("ws"))
    val dw = base
      .select(col("id"), col("tgt"), explode(col("ws")).as("tok"))
      .select(col("id"), col("tgt"),
        pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("w"))
      .groupBy("id", "tgt", "w").agg(count(lit(1)).as("c"))
    scoreAgainstLm(base, dw, broadcastLm = true)
  }

  /** Shared scoring tail: build the smoothed two-distribution LM over the
    * (id, tgt, w, c) relation, join it back, aggregate per doc, and
    * re-attach zero-token documents with score 0. `broadcastLm` is the
    * hashed path's privilege — its LM is nBuckets-bounded, so the join is
    * map-side; the exact path's vocabulary-sized LM hash-joins. */
  private def scoreAgainstLm(base: DataFrame, dw: DataFrame,
                             broadcastLm: Boolean): DataFrame = {
    val lm = lmOf(dw, col("w"))
    val scored = dw.join(if (broadcastLm) broadcast(lm) else lm, Seq("w"))
      .groupBy("id").agg(
        sum("c").as("n_tokens"),
        sum(col("c").cast("double") * col("llr")).as("imp_logratio"))
    base.select("id").distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("imp_logratio"), lit(0.0d)).as("imp_logratio"))
  }

  /** Smoothed per-word log-likelihood-ratio table (w, llr) from the
    * (id, tgt, w, c) counts relation: `ln(p_tgt(w)/p_raw(w))` with
    * add-one smoothing over the joint vocabulary. */
  private def lmOf(dw: DataFrame, w: Column): DataFrame = {
    val vocab = dw.groupBy(w.as("w")).agg(
      sum("c").as("c_all"),
      sum(when(col("tgt"), col("c")).otherwise(0L)).as("c_t"))
    val tot = vocab.agg(sum("c_all").as("n_all"), sum("c_t").as("n_t"),
      count(lit(1)).as("vsz"))
    vocab.crossJoin(broadcast(tot))
      .select(col("w"), log(
        ((col("c_t") + 1).cast("double") / (col("n_t") + col("vsz"))) /
        ((col("c_all") + 1).cast("double") / (col("n_all") + col("vsz"))))
        .as("llr"))
  }

  /** A frozen hashed LM: per-bucket log-likelihood ratios plus the
    * smoothed default for buckets absent from the training corpus.
    * Small by construction (≤ nBuckets entries) — ships in a closure /
    * literal map, never as a relation. */
  final case class HashedLm(llr: Map[Long, Double], defaultLlr: Double,
                            nBuckets: Int, ngramOrder: Int = 1)

  /** Train a [[HashedLm]] once on a (bounded) reference corpus. The
    * production DSIR shape is train-once-score-many: fit the LM on a
    * reference sample here, then score the FULL corpus — or an unbounded
    * stream — with [[scoreWith]], which is a pure map-side expression.
    * The driver collect is capped at `nBuckets` rows by construction
    * (explicitly required ≤ 2^22 ≈ 4M entries, ~100 MB ceiling). */
  def trainHashedLm(df: DataFrame, textCol: String, isTarget: Column,
                    nBuckets: Int = 8192, ngramOrder: Int = 1): HashedLm = {
    require(nBuckets >= 2 && nBuckets <= (1 << 22),
      s"nBuckets must be in [2, 2^22], got $nBuckets")
    require(ngramOrder >= 1, s"ngramOrder must be >= 1, got $ngramOrder")
    val dw = df.select(isTarget.as("tgt"),
        explode(ngramTokens(col(textCol), ngramOrder)).as("tok"))
      .select(col("tgt"), pmod(xxhash64(col("tok")), lit(nBuckets.toLong)).as("w"))
      .groupBy("w").agg(
        count(lit(1)).as("c_all"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("c_t"))
    val rows = dw.collect()
    require(rows.nonEmpty,
      "trainHashedLm: reference corpus has no tokens to train on")
    val nAll = rows.map(_.getLong(1)).sum.toDouble
    val nT = rows.map(_.getLong(2)).sum.toDouble
    val vsz = rows.length.toDouble
    def llr(cT: Long, cAll: Long): Double = math.log(
      ((cT + 1) / (nT + vsz)) / ((cAll + 1) / (nAll + vsz)))
    HashedLm(
      rows.map(r => r.getLong(0) -> llr(r.getLong(2), r.getLong(1))).toMap,
      llr(0L, 0L), nBuckets, ngramOrder)
  }

  /** Score a text column against a frozen [[HashedLm]] — a single
    * codegen'd expression (tokenize → bucket → array index → sum): zero
    * shuffle, zero state, identical on batch and streams. Scoring 100 TB
    * costs one scan; empty/null text scores 0.
    *
    * The LM ships as a DENSE array literal indexed by bucket, because
    * Spark's `element_at` on a map literal is a LINEAR key scan — O(
    * nBuckets) per token, which at the 2^22 cap would dominate the whole
    * scan. Array ordinal access is O(1); the dense form costs 8 bytes ×
    * nBuckets once per plan (64 KiB at the default 8192, 32 MiB at the
    * cap — within a plan literal's budget, and the cap's require guards
    * it). Buckets unseen in training hold the smoothed default. */
  def scoreWith(lm: HashedLm, text: Column): Column = {
    val dense = Array.fill(lm.nBuckets)(lm.defaultLlr)
    lm.llr.foreach { case (b, v) => dense(b.toInt) = v }
    val lmArr = typedLit(dense.toSeq)
    aggregate(
      coalesce(ngramTokens(text, lm.ngramOrder), array()),
      lit(0.0d),
      (acc, w) => acc +
        element_at(lmArr, (pmod(xxhash64(w), lit(lm.nBuckets.toLong)) + 1L)
          .cast("int")))
  }

  /** Multiclass generalization of the two-distribution LM: a multinomial
    * Naive Bayes over unigrams (the CCNet/LLaMA-style "which corpus does
    * this look like" router — domain or language routing as one
    * aggregation pass, no ML runtime).
    *
    * Per-class score of a document is the add-one-smoothed log
    * likelihood plus log prior:
    * `ln P(class) + Σ_w c(w,d) · ln((c_class(w)+1)/(N_class+V))`.
    *
    * Scale shape matches [[importanceScores]]: explode → per-(doc, word)
    * partial-agg → word-keyed class-count table joined back → per-doc
    * aggregation; the class dimension expands INSIDE the word-keyed join
    * (a dense word × class log-prob table), so the number of shuffles
    * does not grow with classes. Argmax is [[nbPredict]], with
    * deterministic class-asc tie-breaking.
    *
    * Full NB posterior table: one row per (document, class) with the
    * add-one-smoothed log probability. Self-trained on the labeled input
    * (train == score corpus, the corpus-analysis shape); for
    * train-once-score-many over unlabeled data, freeze per-class
    * [[HashedLm]]s instead. */
  def nbPosteriors(df: DataFrame, idCol: String, textCol: String,
                   labelCol: String): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(labelCol).as("cls"),
      scriptTokens(lower(col(textCol))).as("ws"))
    val dw = base
      .select(col("id"), explode(col("ws")).as("w"))
      .groupBy("id", "w").agg(count(lit(1)).as("c"))
    val docWords = base.select(col("id"), col("cls"))
    val wc = base.select(col("cls"), explode(col("ws")).as("w"))
      .groupBy("w", "cls").agg(count(lit(1)).as("cw"))
    val classTot = wc.groupBy("cls").agg(sum("cw").as("n_cls"))
    val vszDf = wc.select(countDistinct("w").as("vsz"))
    val priors = docWords.groupBy("cls").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(docWords.select(count(lit(1)).as("n_all"))))
      .select(col("cls"), log(col("n_docs").cast("double") / col("n_all"))
        .as("log_prior"))
    // dense (word × class) log-prob table: every word of the vocabulary
    // gets a row PER CLASS (absent pairs smoothed), built by joining the
    // distinct-word relation to the class list — word-keyed, classes are
    // a broadcast dimension
    val classes = classTot.join(broadcast(vszDf))
    val wordClass = wc.select("w").distinct()
      .crossJoin(broadcast(classes))
      .join(wc, Seq("w", "cls"), "left")
      .select(col("w"), col("cls"),
        log((coalesce(col("cw"), lit(0L)) + 1).cast("double") /
          (col("n_cls") + col("vsz"))).as("log_pw"))
    dw.join(wordClass, Seq("w"))
      .groupBy("id", "cls").agg(
        sum("c").as("n_tokens"),
        sum(col("c").cast("double") * col("log_pw")).as("ll"))
      .join(broadcast(priors), "cls")
      .select(col("id"), col("cls"), col("n_tokens"),
        (col("ll") + col("log_prior")).as("nb_logprob"))
  }

  /** Argmax over [[nbPosteriors]]: (id, predicted, nb_logprob), via the
    * engine's k-bounded [[graft.functions.TopK.ByScore]] at k = 1 — its
    * (score desc, id asc) contract IS argmax with deterministic
    * class-asc tie-breaking, and the aggregation stays map-side O(1)
    * per (doc, class) row. */
  def nbPredict(df: DataFrame, idCol: String, textCol: String,
                labelCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val post = nbPosteriors(df, idCol, textCol, labelCol)
    val agg = udaf(new graft.functions.TopK.ByScore[String](1),
        ExpressionEncoder[(String, Double)]())
      .apply(col("cls"), col("nb_logprob"))
    post.groupBy("id").agg(agg.as("hits"))
      .select(col("id"), explode(col("hits")).as("h"))
      .select(col("id"), col("h.neighbor_id").as("predicted"),
        col("h.cosine_sim").as("nb_logprob"))
  }

  /** Corpus drift detection: KL(A‖B), KL(B‖A), and Jensen–Shannon
    * divergence between two corpora's unigram word distributions, with
    * add-one smoothing over the JOINT vocabulary (the same estimator as
    * [[importanceScores]] — a word absent from one corpus contributes its
    * smoothed floor, so the divergences are always finite). Also reports
    * vocabulary sizes/overlap and token masses — the numbers a data-drift
    * monitor pages on when tomorrow's crawl stops resembling today's.
    *
    * One map-side-combined count per corpus, one full-outer join on the
    * word (8-byte-hashable strings, both sides pre-aggregated to distinct
    * types), one aggregation row out. Nothing driver-side; vocabulary
    * never leaves the cluster.
    *
    * Output (1 row): vocab_a, vocab_b, vocab_shared, tokens_a, tokens_b,
    * kl_ab, kl_ba, js (all divergences in nats; js ∈ [0, ln 2]). */
  def vocabDivergence(a: DataFrame, b: DataFrame,
                      textCol: String): DataFrame = {
    def counts(df: DataFrame, name: String): DataFrame = df
      .select(explode(scriptTokens(lower(col(textCol)))).as("w"))
      .groupBy("w").agg(count(lit(1)).as(name))
    val joint = counts(a, "ca").join(counts(b, "cb"), Seq("w"), "full_outer")
      .select(coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val tot = joint.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    val p = (col("ca") + 1).cast("double") /
      (col("na") + col("v")).cast("double")
    val q = (col("cb") + 1).cast("double") /
      (col("nb") + col("v")).cast("double")
    joint.crossJoin(broadcast(tot))
      .select(col("ca"), col("cb"), col("na"), col("nb"), col("v"),
        p.as("p"), q.as("q"))
      .agg(
        sum(when(col("ca") > 0, 1L).otherwise(0L)).as("vocab_a"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("vocab_b"),
        sum(when(col("ca") > 0 && col("cb") > 0, 1L).otherwise(0L))
          .as("vocab_shared"),
        max(col("na")).as("tokens_a"),
        max(col("nb")).as("tokens_b"),
        sum(col("p") * log(col("p") / col("q"))).as("kl_ab"),
        sum(col("q") * log(col("q") / col("p"))).as("kl_ba"),
        (sum(col("p") * log(col("p") * 2.0 / (col("p") + col("q")))) * 0.5 +
          sum(col("q") * log(col("q") * 2.0 / (col("p") + col("q")))) * 0.5)
          .as("js"))
      // two token-free corpora are identical, not incomparable: the agg
      // over zero joint rows would emit nulls, so pin the finite contract
      .select(
        coalesce(col("vocab_a"), lit(0L)).as("vocab_a"),
        coalesce(col("vocab_b"), lit(0L)).as("vocab_b"),
        coalesce(col("vocab_shared"), lit(0L)).as("vocab_shared"),
        coalesce(col("tokens_a"), lit(0L)).as("tokens_a"),
        coalesce(col("tokens_b"), lit(0L)).as("tokens_b"),
        coalesce(col("kl_ab"), lit(0.0d)).as("kl_ab"),
        coalesce(col("kl_ba"), lit(0.0d)).as("kl_ba"),
        coalesce(col("js"), lit(0.0d)).as("js"))
  }

  /** Consecutive-token bigram pairs of a token array: `(u, v)` structs,
    * empty for arrays shorter than 2. */
  private def bigramPairs(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(0), size(tk) - 2),
        i => struct(element_at(tk, i + 1).as("u"), element_at(tk, i + 2).as("v"))))
      .otherwise(array().cast("array<struct<u:string,v:string>>"))

  /** Per-document BIGRAM perplexity under an add-k-smoothed LM estimated
    * on `train` (default: the scoring corpus itself — the CCNet-style
    * "how typical of the corpus is this document" signal; pass a
    * high-quality reference slice for quality-model scoring):
    *
    * {{{
    *   p(v|u) = (C2(u,v) + k) / (C1(u) + k·V)
    *   ppl(d) = exp( -(1/m) Σ_bigrams ln p(v|u) )
    * }}}
    *
    * with C2/C1 bigram/prefix counts over `train`, V the unigram
    * vocabulary size, and m the doc's bigram count. Returns
    * (id, n_bigrams, ppl); documents with fewer than 2 tokens are
    * omitted (no bigram to score). Unknown bigrams/prefixes score with
    * zero counts — the smoothing keeps them finite.
    *
    * Scale shape: the LM is two word-pair-keyed aggregations with
    * map-side combine (the shuffle carries distinct (u,v) counts, not
    * occurrences) and scoring is one bigram-keyed join of the doc's
    * DISTINCT bigram multiset against the LM — the same exact-vocabulary
    * contract (and scale envelope) as [[importanceScores]]; at corpora
    * where the distinct-bigram relation itself is the bottleneck, the
    * hashed-bucket route ([[trainHashedLm]] with bigram features) is the
    * broadcastable analog, trading collisions for a bounded table. */
  def bigramPerplexity(df: DataFrame, idCol: String, textCol: String,
                       train: Option[DataFrame] = None,
                       addK: Double = 1.0): DataFrame = {
    require(addK > 0.0, s"addK must be > 0 for finite smoothing, got $addK")
    val toks = (rel: DataFrame) =>
      rel.select(scriptTokens(lower(col(textCol))).as("tk"))
    // pinned: feeds bigram counts AND the vocab count
    val trainTk = Pin.eager(toks(train.getOrElse(df)))
    val vCount = trainTk.select(explode(col("tk")).as("w"))
      .agg(countDistinct(col("w"))).head().getLong(0)
    // pinned: feeds the prefix counts AND the score join
    val c2 = Pin.eager(trainTk.select(explode(bigramPairs(col("tk"))).as("b"))
      .select(col("b.u").as("u"), col("b.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c2")))
    val c1 = c2.groupBy("u").agg(sum(col("c2")).as("c1"))
    val docBg = df.select(col(idCol).as("id"),
        scriptTokens(lower(col(textCol))).as("tk"))
      .select(col("id"), explode(bigramPairs(col("tk"))).as("b"))
      .select(col("id"), col("b.u").as("u"), col("b.v").as("v"))
      .groupBy("id", "u", "v").agg(count(lit(1)).as("m"))
    docBg
      .join(c2, Seq("u", "v"), "left")
      .join(c1, Seq("u"), "left")
      .withColumn("contrib", col("m").cast("double") *
        log((coalesce(col("c2"), lit(0L)) + lit(addK))
          / (coalesce(col("c1"), lit(0L)) + lit(addK) * lit(vCount.toDouble))))
      .groupBy("id")
      .agg(sum(col("m")).as("n_bigrams"),
        exp(-sum(col("contrib")) / sum(col("m")).cast("double")).as("ppl"))
  }

  /** DSIR's Gumbel top-k resampling, made deterministic: keep the top
    * `fraction` of rows by `score/temperature + Gumbel(hash(salt, id))` —
    * equivalent to sampling without replacement with probability
    * ∝ exp(score/temperature), but reproducible across runs and engines
    * sharing the hash. Selection runs through the engine's
    * histogram-threshold machinery, never a global sort. */
  def gumbelTopFraction(df: DataFrame, idCol: String, scoreCol: String,
                        fraction: Double, temperature: Double = 1.0,
                        salt: String = "dsir"): DataFrame = {
    require(temperature > 0.0, s"temperature must be > 0, got $temperature")
    // uniform in (0,1): 53 random-ish bits of the seeded farmhash
    val u = (pmod(farmHash64(concat_ws(":", lit(salt),
        col(idCol).cast("string"))), lit(1L << 53)).cast("double") + 0.5d) /
      lit((1L << 53).toDouble)
    val key = col(scoreCol).cast("double") / temperature - log(-log(u))
    ScoreFilter.keepTopFraction(df.withColumn("__gumbel_key", key),
        "__gumbel_key", fraction)
      .drop("__gumbel_key")
  }
}
