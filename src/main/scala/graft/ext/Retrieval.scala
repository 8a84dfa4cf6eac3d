package graft.ext

import graft.GraftFunctions._
import graft.core.Pin
import graft.functions.TopK
import graft.sources.GraftIO
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** BM25 full-text retrieval over a document corpus.
  *
  * Okapi BM25 (Robertson & Zaragoza 2009, "The Probabilistic Relevance
  * Framework: BM25 and Beyond") with Lucene's non-negative idf form:
  *
  * {{{
  *   idf(t)     = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
  *   score(q,d) = sum over distinct t in q of
  *                idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  * }}}
  *
  * The keyword-retrieval counterpart of [[Similarity]]'s embedding ANN —
  * the other half of a hybrid training-data search stack (mining docs for
  * a topic, sourcing benchmark-adjacent text for decontamination review,
  * labeling seed sets for quality classifiers).
  *
  * Scale shape (the part that matters at 100 TB):
  *   - The query side is declared SMALL (a query batch, not a corpus) and
  *     broadcasts; its distinct vocabulary semi-filters the corpus token
  *     stream BEFORE the only token-keyed shuffle, so tokens for terms no
  *     query mentions die in their scan task — the (doc, term) tf
  *     aggregation shuffles matched postings only.
  *   - Document length and corpus stats (N, avgdl) come from a narrow
  *     `size(tokens)` projection — integer sum, exact, no token shuffle.
  *   - df(t) aggregates the per-(doc, term) postings down to at most the
  *     query vocabulary size and broadcasts back as the idf table.
  *   - Per-query ranking ends in the k-bounded [[TopK.ByScore]] hash
  *     aggregate — map-side partial buffers of at most k hits, never a
  *     `row_number()` window funneling a query's whole candidate set
  *     through one task.
  *
  * Tokenization is the engine-wide script-aware tokenizer
  * ([[graft.GraftFunctions.scriptTokens]]) over lowercased text, so CJK
  * corpora retrieve without a space-splitting assumption.
  */
object Retrieval {

  /** Retrieval ids ride as longs throughout (`doc_id` / `query_id`). An
    * unguarded cast would turn a non-numeric string id into null and
    * silently collapse every such document into one `doc_id = null`
    * group — fail loudly at plan time instead (the ANN operators widen
    * natively; here the long id is part of the persisted-index layout). */
  private def requireIntegralId(df: DataFrame, c: String, role: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      // warehouse exports routinely carry integral ids as DECIMAL(p, 0)
      // (BigQuery/Oracle NUMBER); the long cast is lossless at p <= 18
      // and overflows LOUDLY past it under ANSI — never a silent null
      case d: DecimalType if d.scale == 0 && d.precision <= 18 => true
      case _ => false
    }
    require(ok,
      s"Retrieval requires an integral $role column (widened to long); " +
        s"'$c' is ${df.schema(c).dataType.catalogString} — map non-numeric " +
        "ids to longs first (e.g. monotonically_increasing_id plus a " +
        "lookup table)")
  }

  /** Top-k BM25 hits per query: (query_id, doc_id, score, rank), rank
    * 1-based by (score desc, doc_id asc).
    *
    * @param docs    corpus; scanned twice (stats pass + postings pass),
    *                both scans prune to (`idCol`, `textCol`)
    * @param queries SMALL query batch (broadcast); `qidCol` must be unique
    * @param k1      term-frequency saturation (Robertson's default 1.2)
    * @param b       length normalization strength (default 0.75)
    * @param roundScoresTo when set, scores are rounded to this many
    *                decimals BEFORE ranking. Floating-point summation
    *                order varies with partitioning, so two runs (or two
    *                engines) can disagree by ulps on mathematically tied
    *                scores and flip tie ranks; quantizing makes the
    *                ranking rerun-stable — the right setting for
    *                reproducible pipeline output. None keeps raw scores.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qidCol: String, qtextCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75,
               roundScoresTo: Option[Int] = None): DataFrame = {
    require(k >= 1, s"bm25TopK needs k >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1,
      s"BM25 parameters out of range: k1=$k1 (>=0), b=$b ([0,1])")
    requireIntegralId(docs, idCol, "doc id")
    requireIntegralId(queries, qidCol, "query id")
    val d = docs.select(col(idCol).cast(LongType).as("doc_id"),
      scriptTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))

    // corpus stats: exact integer sums over a narrow projection (the
    // tokenizer runs in the scan stage; nothing shuffles but one row)
    val stats = d.agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
      .head()
    val nDocs = stats.getAs[Long]("n")
    val avgdl = stats.getAs[Long]("sum_dl").toDouble / math.max(nDocs, 1L)
    if (nDocs == 0L)
      return d.select(col("doc_id").as("query_id"), col("doc_id"),
        lit(0.0).as("score"), lit(0).as("rank")).limit(0)

    // (query, distinct term) pairs — the broadcast side throughout
    val qTerms = queries.select(col(qidCol).cast(LongType).as("query_id"),
      explode(array_distinct(scriptTokens(lower(col(qtextCol))))).as("term"))
    val vocab = qTerms.select("term").distinct()

    // postings restricted to the query vocabulary: the broadcast semi-join
    // runs token-side in the scan stage, so the tf groupBy shuffles only
    // matched (doc_id, term) traffic. Pinned eagerly — it feeds BOTH the
    // df/idf branch and the scoring branch, which would otherwise each
    // re-scan and re-tokenize the corpus; the pinned relation is the
    // matched postings only (bounded by query-vocab selectivity)
    val tf = Pin.eager(d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(vocab), "term")
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    bm25Ranked(tf, qTerms, nDocs, avgdl, k, k1, b, roundScoresTo)
  }

  /** The BM25 step both searches share: over query-restricted postings
    * `tf` (doc_id, term, dl, tf) of a corpus of `nDocs` documents with
    * mean length `avgdl`, df/idf per term (<= |vocab| rows, broadcast
    * back), each posting's contribution per query term, the per-(query,
    * doc) sum (rounded when `roundScoresTo` is set), and the k-bounded
    * top-k per query. */
  private def bm25Ranked(tf: DataFrame, qTerms: DataFrame, nDocs: Long,
                         avgdl: Double, k: Int, k1: Double, b: Double,
                         roundScoresTo: Option[Int]): DataFrame = {
    val idf = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
    val contrib = tf
      .join(broadcast(idf.select("term", "idf")), "term")
      .join(broadcast(qTerms), "term")
      .withColumn("contrib",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b)
              + lit(b) * col("dl").cast("double") / lit(avgdl))))
    val rawScore = contrib.groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("score"))
    val scored = roundScoresTo match {
      case Some(p) => rawScore.withColumn("score", round(col("score"), p))
      case None    => rawScore
    }
    val byScore = udaf(new TopK.ByScore[Long](k),
      ExpressionEncoder[(Long, Double)]())
    scored.groupBy("query_id")
      .agg(byScore(col("doc_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.neighbor_id").as("doc_id"),
        col("h.cosine_sim").as("score"), col("h.rank").as("rank"))
  }

  // ---- persisted text index -----------------------------------------------
  // At corpus scale the tokenize+postings pass is the expensive part of
  // BM25 and is query-independent: build it ONCE, partition the postings
  // by a term-hash bucket, and every later query batch reads only the
  // buckets its terms hash into (hive partition pruning) — the corpus
  // text is never re-scanned.
  //
  // Writer concurrency and batch lifecycle: buildTextIndex,
  // appendTextIndex, compactTextIndex and dropTextBatch are ArtifactIO's
  // four lifecycle steps (single writer, under the `_writer_lock` lease;
  // see its header). searchTextIndex never takes the lease.

  /** Tokenize `docs` once and persist a BM25-servable index at `path`:
    * `path/postings/batch=<id>` = (term, doc_id, dl, tf) hive-partitioned
    * by `bucket = pmod(hash64(term), buckets)` within each batch, and
    * `path/stats/batch=<id>` = one row per batch (n_docs, sum_dl,
    * buckets — the bucket count is part of the artifact, so a search can
    * never hash terms with a mismatched modulus; corpus stats are the SUM
    * over batch rows). Returns the number of documents indexed. Every
    * batch — the build's `init` and each append's — owns its partitions,
    * which is what makes a keyed re-append idempotent (see
    * [[appendTextIndex]]). The postings write shuffles on bucket so each
    * bucket lands in O(1) files per batch; document frequencies are NOT
    * materialized — a search recovers exact df for its query terms from
    * the pruned postings (one row per (term, doc) by construction). */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, buckets: Int = 64): Long = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    requireIntegralId(docs, idCol, "doc id")
    val spark = docs.sparkSession
    ArtifactIO.rebuild(spark, path, "buildTextIndex", TextRelations) {
      writeTextBatch(docs, idCol, textCol, path, buckets, "init")
    }
  }

  /** The batch-partitioned relations, postings first (the order a
    * batch is written and dropped in, see [[writeTextBatch]]). */
  private val TextRelations = Seq("postings", "stats")

  /** One batch's postings + stats row into their own `batch=<id>`
    * partitions (postings FIRST: a torn batch then under-counts the
    * corpus stats — avgdl/idf shift marginally — rather than claiming
    * documents whose postings never arrived). A batch with zero posting
    * rows still writes its stats row, so empty-ish batches keep n_docs
    * exact; a fully empty BATCH writes only stats (zero-row partitioned
    * writes emit no files), and an index whose every batch is empty has
    * no postings directory at all — searches short-circuit on the
    * summed stats instead. */
  private def writeTextBatch(docs: DataFrame, idCol: String, textCol: String,
                             path: String, buckets: Int,
                             batch: String): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    // pinned: the stats pass and the postings write would otherwise each
    // re-tokenize the batch (batches are bounded — the pin holds one
    // batch's token arrays, not a corpus)
    val d = Pin.eager(docs.select(col(idCol).cast(LongType).as("doc_id"),
      scriptTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType)))
    val st = d.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_dl")).head()
    val nDocs = st.getAs[Long]("n_docs")
    val postings = d
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(farmHash64(col("term")), lit(buckets.toLong)))
    // delete the batch's prior postings generation FIRST (mirrors
    // DedupIndex.writeBatch): a keyed re-append that replaces a batch
    // with empty/tokenless data takes the skip branch below — without
    // the delete, the old generation's postings would stay live while
    // the stats row is overwritten, serving ghost documents the summed
    // stats no longer count
    ArtifactIO.delete(spark, s"$path/postings/batch=$batch")
    // write postings only when the batch HAS posting rows (sum_dl > 0 ⟺
    // at least one token somewhere): a zero-row partitioned write still
    // creates the directory with no schema-bearing file, which would
    // poison schema inference for every later read
    if (st.getAs[Long]("sum_dl") > 0L)
      postings.repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/postings/batch=$batch")
    Seq((nDocs, st.getAs[Long]("sum_dl"), buckets))
      .toDF("n_docs", "sum_dl", "buckets")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$path/stats/batch=$batch")
    nDocs
  }

  /** Corpus-level stats summed over the artifact's batch rows: (n_docs,
    * sum_dl, buckets). An index whose every stats batch was dropped
    * reads as (0, 0, -1) — empty, with the bucket modulus unknowable
    * (searches return nothing; appends reject, see
    * [[appendTextIndex]]). */
  private def readTextStats(spark: org.apache.spark.sql.SparkSession,
                            path: String): (Long, Long, Int) = {
    if (!ArtifactIO.hasParquetData(spark, s"$path/stats"))
      return (0L, 0L, -1)
    // one row per batch: summed on the driver after one collect job (a
    // global agg costs two); nulls are skipped as sum/max skip them
    val rows = GraftIO.readParquet(spark, s"$path/stats")
      .select("n_docs", "sum_dl", "buckets").collect()
    def total(i: Int): Long =
      rows.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).foldLeft(0L)(Math.addExact)
    val buckets = rows.iterator.filterNot(_.isNullAt(2)).map(_.getInt(2))
    (total(0), total(1), if (buckets.hasNext) buckets.max else -1)
  }

  /** Append a document batch to a [[buildTextIndex]] artifact: the batch
    * is tokenized once, its postings land under the INDEX's bucket
    * modulus (read back from the artifact — appends can never fork the
    * hashing scheme) in the batch's OWN `batch=<id>` partitions, with
    * its own stats row (corpus stats are summed at read — the append
    * never read-modify-writes a global row).
    *
    * `batchId` is the idempotence key: a stable caller-supplied id (a
    * Structured Streaming batchId, an ingest date) makes retries safe —
    * the batch overwrites ITS OWN postings partitions and stats row, so
    * running the same append twice leaves the index (postings AND
    * summed stats) exactly as running it once. The `None` default
    * generates a unique id per call: at-least-once appends, where a
    * blind retry double-counts — heal by [[dropTextBatch]] on one of the
    * duplicate batches, or rebuild (compaction cannot split summed
    * stats). Single-writer contract; the caller owns cross-batch doc_id
    * uniqueness. Returns documents appended. */
  def appendTextIndex(docs: DataFrame, idCol: String, textCol: String,
                      path: String, batchId: Option[String] = None): Long = {
    requireIntegralId(docs, idCol, "doc id")
    val spark = docs.sparkSession
    ArtifactIO.appendKeyed(spark, path, "appendTextIndex", batchId) { batch =>
      val (_, _, buckets) = readTextStats(spark, path)
      require(buckets > 0,
        s"appendTextIndex: no stats batches at $path (never built, or all " +
          "batches dropped) — the bucket modulus is unknowable; rebuild")
      writeTextBatch(docs, idCol, textCol, path, buckets, batch)
    }
  }

  /** Compact a text index in place: repeated [[appendTextIndex]] calls
    * accumulate one `batch=<id>` partition per append — this collapses
    * the postings in ONE shuffle into a single compact batch with O(1)
    * files per bucket, and the per-batch stats rows into one summed row
    * (both the small-file count and the partition-discovery listing stop
    * growing with append count). Each directory is staged to a sibling
    * and swapped in by rename ([[ArtifactIO.rewriteInPlace]] — a crash
    * loses the compaction, never the data). NO row dedupe: the stats
    * rows sum every appended batch, so dropping a double-written
    * batch's postings would desynchronize avgdl/n_docs — heal an
    * un-keyed double append with [[dropTextBatch]] (which removes its
    * stats row too), then compact. No-op on an index with no postings.
    * Single-writer, like append. */
  def compactTextIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit =
      ArtifactIO.withWriterLease(spark, path, "compactTextIndex") {
    if (!ArtifactIO.hasParquetData(spark, s"$path/postings")) return
    val cid = ArtifactIO.fold(spark, path, TextRelations)
    val postings = GraftIO.readParquet(spark, s"$path/postings").drop("batch")
    ArtifactIO.rewriteInPlace(spark, s"$path/postings") { tmp =>
      // sorted within each bucket on every column, so the files depend
      // only on the rows, not on shuffle fetch order
      postings.repartition(col("bucket"))
        .sortWithinPartitions(("bucket" +: postings.columns.filterNot(_ == "bucket")).map(col): _*)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$tmp/batch=$cid")
    }
    val (nDocs, sumDl, buckets) = readTextStats(spark, path)
    import spark.implicits._
    ArtifactIO.rewriteInPlace(spark, s"$path/stats") { tmp =>
      Seq((nDocs, sumDl, buckets)).toDF("n_docs", "sum_dl", "buckets")
        .repartition(1).write.mode("overwrite").parquet(s"$tmp/batch=$cid")
    }
  } // lease scope

  /** Remove one batch from a text index: its postings partition and its
    * stats row (the summed corpus stats shrink with it) — the surgical
    * heal for an un-keyed append that double-wrote, and the retention
    * knob for time-keyed batches. Deleting an id that is not present is
    * a no-op. Single-writer, like append. */
  def dropTextBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                    batchId: String): Unit =
    // postings first: a tear between the deletes leaves orphaned stats
    // claiming slightly too many docs (idf marginally off), never
    // postings that the stats no longer count
    ArtifactIO.dropBatch(spark, path, "dropTextBatch",
      TextRelations.map(r => s"$r/batch=$batchId"))

  /** BM25 search against a [[buildTextIndex]] artifact without touching
    * the corpus: query terms hash to their buckets (a driver-side
    * literal set — queries are a small broadcast batch), the postings
    * scan prunes to those directories, a broadcast semi-join keeps only
    * the query terms' rows, and df/idf/scores/top-k run through the same
    * step as [[bm25TopK]] — same formula, same tie rules. Raw scores can
    * differ from the direct path in the final ulp (contributions sum
    * under a different partitioning); pass `roundScoresTo` when
    * reproducible ranking across paths/runs matters. */
  def searchTextIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, qidCol: String, qtextCol: String,
                      k: Int, k1: Double = 1.2, b: Double = 0.75,
                      roundScoresTo: Option[Int] = None): DataFrame = {
    require(k >= 1, s"searchTextIndex needs k >= 1, got $k")
    requireIntegralId(queries, qidCol, "query id")
    // summed over batch rows; the modulus is the INDEX's, not a caller
    // guess — a mismatch would silently prune the wrong directories and
    // drop most postings
    val (nDocs, sumDl, buckets) = readTextStats(spark, path)
    val qTerms = queries.select(col(qidCol).cast(LongType).as("query_id"),
      explode(array_distinct(scriptTokens(lower(col(qtextCol))))).as("term"))
    // DATA-file probe, not a directory-exists check: an all-tokenless
    // corpus leaves a postings dir with no schema-bearing file, and a
    // full batch-drop leaves an empty dir — both must read as "nothing
    // can match", not a schema-inference crash
    if (nDocs == 0L || !ArtifactIO.hasParquetData(spark, s"$path/postings"))
      return qTerms.select(col("query_id"), col("query_id").as("doc_id"),
        lit(0.0).as("score"), lit(0).as("rank")).limit(0)
    val avgdl = sumDl.toDouble / nDocs
    val vocab = qTerms.select("term").distinct()
    // literal bucket set => hive partition pruning at the postings scan
    val qBuckets = vocab
      .select(pmod(farmHash64(col("term")), lit(buckets.toLong)).as("bucket"))
      .distinct().collect().map(_.getLong(0))
    val tf = GraftIO.readParquet(spark, s"$path/postings")
      .where(col("bucket").isin(qBuckets.map(java.lang.Long.valueOf).toSeq: _*))
      .join(broadcast(vocab), "term")
    bm25Ranked(tf, qTerms, nDocs, avgdl, k, k1, b, roundScoresTo)
  }

  /** Hybrid retrieval served ENTIRELY from persisted artifacts: BM25
    * top-k from a [[buildTextIndex]] artifact + cosine top-k from a
    * [[Similarity.buildIvfIndex]] (or, with `vecIndexType = "ivfpq"`, a
    * PQ-compressed [[Similarity.buildIvfPqIndex]]) artifact, fused by
    * [[rrfFuse]] — the serve-side stack for a corpus that is never
    * re-scanned at query time. `queries` carries one row per query with
    * an id, query text, and query embedding; both index scans prune to
    * the query's buckets/cells, and rank-space fusion needs no score
    * calibration between the two systems — which is exactly what lets
    * the PQ leg's ADC scores fuse untouched (ranks, not magnitudes,
    * enter the sum). `nprobe` at or above the index's nlist makes the
    * vector leg exact (for ivfpq, together with a deep `rerank`).
    * `rerank`/`rerankFactor` apply to the ivfpq leg only: pass the
    * full-vector source (its id/vector columns named by `rerankIdCol`/
    * `rerankVecCol`, defaulting to the query column names) for exact
    * re-scoring, or None to rank by ADC straight from the compressed
    * postings — the zero-full-vector serving mode a 100 TB corpus
    * wants. */
  def hybridSearchIndexes(spark: org.apache.spark.sql.SparkSession,
                          textIndexPath: String, ivfIndexPath: String,
                          queries: DataFrame, qidCol: String,
                          qtextCol: String, qvecCol: String,
                          k: Int, kRrf: Int = 60, nprobe: Int = 4,
                          roundScoresTo: Option[Int] = None,
                          vecIndexType: String = "ivf",
                          rerank: Option[DataFrame] = None,
                          rerankFactor: Int = 20,
                          rerankIdCol: Option[String] = None,
                          rerankVecCol: Option[String] = None): DataFrame = {
    require(k >= 1, s"hybridSearchIndexes needs k >= 1, got $k")
    requireIntegralId(queries, qidCol, "query id")
    val textHits = searchTextIndex(spark, textIndexPath,
      queries.select(col(qidCol), col(qtextCol)), qidCol, qtextCol,
      k, roundScoresTo = roundScoresTo)
      .select("query_id", "doc_id", "rank")
    val qv = queries.select(col(qidCol), col(qvecCol))
    val vecHits = (vecIndexType match {
      case "ivf" =>
        Similarity.searchIvfIndex(spark, ivfIndexPath, qv,
          qidCol, qvecCol, k, nprobe)
      case "ivfpq" =>
        // searchIvfPqIndex selects the rerank source with the QUERY's
        // column names — align the caller's corpus columns to them
        val rr = rerank.map(r => r.select(
          col(rerankIdCol.getOrElse(qidCol)).as(qidCol),
          col(rerankVecCol.getOrElse(qvecCol)).as(qvecCol)))
        Similarity.searchIvfPqIndex(spark, ivfIndexPath, qv,
          qidCol, qvecCol, k, nprobe, rerankFactor, rr)
      case t => throw new IllegalArgumentException(
        s"vecIndexType must be ivf or ivfpq, got $t")
    }).select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(textHits, vecHits), k, kRrf)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR '09) of
    * ranked retrieval lists: each input relation carries (query_id,
    * doc_id, rank); a document's fused score is the sum over lists of
    * `1 / (kRrf + rank)` (absent-from-list contributes nothing), and the
    * result is the top-`k` per query by fused score (ties on doc_id),
    * with a fresh 1-based rank. The standard way to hybridize [[bm25TopK]]
    * with embedding ANN ([[Similarity]]) — rank-space fusion needs no
    * score calibration between systems.
    *
    * Scale shape: inputs are ranked TOP-LISTS (k-bounded per query by
    * construction), so this whole operator works on tiny relations —
    * one union + one sum aggregation + the k-bounded TopK aggregator.
    *
    * Determinism note: with two lists the fused sum is a single IEEE
    * addition (exactly commutative); with three or more, summation order
    * can differ by ulps between runs for documents appearing in 3+ lists
    * — quantize downstream if bit-stability matters there. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k >= 1 && kRrf >= 0, s"need k >= 1 (got $k), kRrf >= 0 (got $kRrf)")
    val scored = rankings.map { r =>
      r.select(col("query_id").cast(LongType).as("query_id"),
        col("doc_id").cast(LongType).as("doc_id"),
        (lit(1.0) / (lit(kRrf.toDouble) + col("rank").cast("double"))).as("s"))
    }.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s")).as("score"))
    val byScore = udaf(new TopK.ByScore[Long](k),
      ExpressionEncoder[(Long, Double)]())
    scored.groupBy("query_id")
      .agg(byScore(col("doc_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.neighbor_id").as("doc_id"),
        col("h.cosine_sim").as("score"), col("h.rank").as("rank"))
  }

  /** Vector-space retrieval (Salton's classic TF-IDF cosine model): rank
    * documents by the cosine between the query's and each document's
    * TF-IDF vectors over the corpus vocabulary — the length-normalized
    * complement to [[bm25TopK]]'s probabilistic ranking, and the second
    * leg of a [[rrfFuse]] hybrid. Weights are `(tf/len) · ln(N/df)` with
    * corpus document frequencies on both sides; query terms absent from
    * the corpus contribute nothing.
    *
    * Scale shape: one tokenize+aggregate pass builds the postings (pinned
    * — it feeds df, the document norms, and the dot products); document
    * norms are a map-side-combined aggregation over the full postings
    * (each document's norm needs ALL its terms, so this pass is
    * irreducible); dot products only touch the query terms' postings
    * (broadcast query side), and the norm join keys on doc_id against the
    * candidate set. Ranking ends in the k-bounded TopK aggregate.
    *
    * @param roundScoresTo same reproducibility knob as [[bm25TopK]]:
    *        norms and dots are FP sums whose order varies with
    *        partitioning — quantize before ranking for rerun-stable output
    */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, qidCol: String, qtextCol: String,
                k: Int, minDocFreq: Int = 1,
                roundScoresTo: Option[Int] = None): DataFrame = {
    require(k >= 1, s"tfIdfTopK needs k >= 1, got $k")
    require(minDocFreq >= 1, s"minDocFreq must be >= 1, got $minDocFreq")
    requireIntegralId(docs, idCol, "doc id")
    requireIntegralId(queries, qidCol, "query id")
    // the corpus-size count (the idf N) rides the tfd pin below as an
    // observed metric on the pre-explode relation — no separate count job
    val dObs = org.apache.spark.sql.Observation()
    val d = docs.select(col(idCol).cast(LongType).as("doc_id"),
      scriptTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))
      .observe(dObs, count(lit(1)).as("n"))
    // pinned: feeds df, the norms, and the dot products
    val tfd = Pin.eager(d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val nDocs = dObs.get("n").asInstanceOf[Long]
    if (nDocs == 0L)
      return queries.select(col(qidCol).cast(LongType).as("query_id"),
        col(qidCol).cast(LongType).as("doc_id"),
        lit(0.0).as("score"), lit(0).as("rank")).limit(0)
    val dfT = tfd.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
    val wD = tfd.join(dfT, "term")
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") / col("dl").cast("double")
          * log(lit(nDocs.toDouble) / col("df").cast("double"))).as("wd"))
    val normD = wD.groupBy("doc_id")
      .agg(sqrt(sum(col("wd") * col("wd"))).as("nd"))
    // query vectors: same weighting, corpus df; tiny relation throughout
    val qt = queries.select(col(qidCol).cast(LongType).as("query_id"),
        scriptTokens(lower(col(qtextCol))).as("qtoks"))
      .withColumn("ql", size(col("qtoks")).cast(LongType))
      .select(col("query_id"), col("ql"), explode(col("qtoks")).as("term"))
      .groupBy(col("query_id"), col("term"), col("ql"))
      .agg(count(lit(1)).as("qtf"))
    // pinned: tiny; feeds the query norms and the dots
    val wQ = Pin.eager(broadcast(qt).join(dfT, "term")
      .select(col("query_id"), col("term"),
        (col("qtf").cast("double") / col("ql").cast("double")
          * log(lit(nDocs.toDouble) / col("df").cast("double"))).as("wq")))
    val normQ = wQ.groupBy("query_id").agg(sqrt(sum(col("wq") * col("wq"))).as("nq"))
    val dots = wD.join(broadcast(wQ), "term")
      .groupBy("query_id", "doc_id")
      .agg(sum(col("wd") * col("wq")).as("dot"))
    val rawScore = dots
      .join(normD, "doc_id")
      .join(broadcast(normQ), "query_id")
      .select(col("query_id"), col("doc_id"),
        (col("dot") / (col("nd") * col("nq"))).as("score"))
    val scored = roundScoresTo match {
      case Some(p) => rawScore.withColumn("score", round(col("score"), p))
      case None    => rawScore
    }
    val byScore = udaf(new TopK.ByScore[Long](k),
      ExpressionEncoder[(Long, Double)]())
    scored.groupBy("query_id")
      .agg(byScore(col("doc_id"), col("score")).as("hits"))
      .select(col("query_id"), explode(col("hits")).as("h"))
      .select(col("query_id"), col("h.neighbor_id").as("doc_id"),
        col("h.cosine_sim").as("score"), col("h.rank").as("rank"))
  }

  /** Per-document TF-IDF vectors over the corpus' own vocabulary, pruned
    * to terms in at least `minDocFreq` docs: (doc_id, term, tf_idf) with
    * `tf_idf = (tf / dl) * ln(N / df)`. The feature-extraction sibling of
    * [[bm25TopK]] (which ranks against ad-hoc queries): use it to build
    * sparse lexical features for clustering or classifier seeds.
    *
    * Unlike the query-filtered retrieval path this IS a full token-keyed
    * aggregation — the postings shuffle is the job. The df table is
    * corpus-vocabulary-sized (bounded, zipf-distributed) and the join back
    * keys on term, so no row ever carries text wider than one token. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String,
            minDocFreq: Int = 2): DataFrame = {
    require(minDocFreq >= 1, s"minDocFreq must be >= 1, got $minDocFreq")
    requireIntegralId(docs, idCol, "doc id")
    // the idf N rides the tf pin as an observed metric on the
    // pre-explode relation — no separate count job
    val dObs = org.apache.spark.sql.Observation()
    val d = docs.select(col(idCol).cast(LongType).as("doc_id"),
      scriptTokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast(LongType))
      .observe(dObs, count(lit(1)).as("n"))
    // pinned: feeds the df aggregation AND the final join — one
    // tokenize+aggregate pass instead of two; the pin holds one thin row
    // per distinct (doc, term), the same order of magnitude the shuffle
    // already spills
    val tf = Pin.eager(d.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf")))
    val nDocs = dObs.get("n").asInstanceOf[Long]
    val df = tf.groupBy("term")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
    tf.join(df, "term")
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") / col("dl").cast("double")
          * log(lit(nDocs.toDouble) / col("df").cast("double"))).as("tf_idf"))
  }
}
