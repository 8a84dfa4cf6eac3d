package graft.streaming

import graft.GraftFunctions._
import graft.ext.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-fingerprint duplication record emitted by
  * [[StreamOps.duplicateCounts]]: how many times content with this
  * fingerprint has arrived so far and when it was first seen. */
final case class DupCount(fingerprint: Long, n_seen: Long, first_seen_ms: Long)

/** Structured Streaming surface of the engine.
  *
  * The reference is batch-only (SURVEY §1.1: "no streams anywhere"), but
  * every deterministic kernel here is a pure Catalyst expression, so the
  * sampling/dedup/quality operators lift onto streams unchanged — a
  * stateless filter stays a stateless filter under `readStream`. The only
  * genuinely stateful pieces are watermarked dedup and windowed
  * aggregation, which use Spark's built-in state stores with bounded
  * retention (no unbounded state at 100 TB/day ingest).
  */
object StreamOps {

  /** Deterministic hash sampling on a stream: identical semantics to the
    * batch BigSampler hash arm — same record always in/out, cohorts stay
    * consistent between a stream and any batch table hashed on the same
    * fields. Stateless; survives restarts with no state store at all. */
  def hashSample(stream: DataFrame, fraction: Double, fields: Seq[String],
                 algo: String = "farm", seed: Option[Int] = None): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0, s"fraction must be in (0,1], got $fraction")
    stream.filter(hashDice(fields.map(col), algo, seed) < lit(fraction))
  }

  /** Deterministic per-DOMAIN hash-dice mixture sampling, stateless —
    * the streaming arm of the exact mixture
    * (`ScoreFilter.keepTopFractionPerKey` with a fractions map): each
    * domain keeps ~its fraction of rows (exact in expectation, not in
    * count — the exact-quota form needs the full corpus), decided per
    * row from the hash die over `fields`, so a record gets the same
    * verdict on a stream or any batch table. Domains absent from the
    * map use `defaultFraction`; 0.0 drops a domain. */
  def mixtureSample(stream: DataFrame, domainCol: String, fields: Seq[String],
                    fractions: Map[String, Double],
                    defaultFraction: Double): DataFrame = {
    (fractions.valuesIterator ++ Iterator.single(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    val frac =
      if (fractions.isEmpty) lit(defaultFraction)
      else coalesce(element_at(typedLit(fractions), col(domainCol)),
        lit(defaultFraction))
    stream.filter(hashDice(fields.map(col)) < frac)
  }

  /** Exactly-once content dedup within a watermark horizon: fingerprint
    * the normalized payload, keep ONE arrival per fingerprint (across
    * micro-batches the earlier batch wins; within one micro-batch the
    * survivor is processing-order-dependent, as with Spark's own
    * dropDuplicates). State is bounded by the watermark
    * (dropDuplicatesWithinWatermark) — the standard training-data ingest
    * pattern. */
  def dedupByContent(stream: DataFrame, textCol: String, tsCol: String,
                     watermark: String): DataFrame =
    stream
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Tumbling-window corpus quality telemetry: per (window, lang-ish
    * bucket) document counts and mean quality score — the streaming analog
    * of the batch qualitySignals pass. */
  def windowedQuality(stream: DataFrame, tsCol: String, textCol: String,
                      windowLen: String, watermark: String): DataFrame =
    TextAnalysis.qualitySignals(stream, textCol)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("quality_score")).as("mean_quality"),
        avg(col("n_tokens")).as("mean_tokens"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("mean_quality"), col("mean_tokens"))

  /** Per-window data-quality constraint telemetry: the streaming arm of
    * [[graft.ext.Profile.check]] — each tumbling window emits one row
    * per constraint (window_start, window_end, constraint, col,
    * observed, passed), so a curation ingest alarms on the WINDOW where
    * ids went null or cardinality collapsed, not at end of day.
    * State is one fixed-size aggregate per open window ([[graft.ext
    * .Profile.ApproxDistinctBetween]] keeps an HLL, everything else
    * counters). [[graft.ext.Profile.Unique]] needs an exact distinct no
    * bounded stream state can hold — rejected here; run it in the batch
    * compaction pass instead. */
  def constraintTelemetry(stream: DataFrame, tsCol: String,
                          constraints: Seq[graft.ext.Profile.Constraint],
                          windowLen: String, watermark: String): DataFrame = {
    val unique = constraints.collect {
      case u: graft.ext.Profile.Unique => u.column
    }
    require(unique.isEmpty,
      s"Unique(${unique.mkString("; ")}) needs an exact distinct — not " +
        "streamable with bounded state; check it in the batch pass")
    stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(graft.ext.Profile.checkArray(constraints).as("__c"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), inline(col("__c")))
  }

  /** Per-event scoring for stream routing: quality + language + token
    * count columns usable in a `foreachBatch` router. Stateless. */
  def scoreEvents(stream: DataFrame, textCol: String): DataFrame =
    TextAnalysis.qualitySignals(stream, textCol)
      .withColumn("lang_pred", TextAnalysis.languageId(col(textCol)))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col(textCol)))

  /** The full Gopher Table A1 gate on a stream: rule signals
    * ([[TextAnalysis.gopherFilter]]) AND repetition signals
    * ([[TextAnalysis.repetitionFilter]]), both stateless per-row — the
    * batch operators lift verbatim, so the stream keeps exactly the rows
    * the batch pass would (spec-proven). Original columns only. */
  def curationFilter(stream: DataFrame, textCol: String): DataFrame =
    TextAnalysis.repetitionFilter(
      TextAnalysis.gopherFilter(stream, textCol), textCol)

  /** Learned-BPE tokenization on a stream with a FROZEN model — the same
    * train-once-score-many shape as [[importanceScore]]: train
    * [[graft.ext.Bpe.Model]] on the accumulated batch corpus, then every
    * arriving document tokenizes map-side (rank table in the task closure,
    * zero state, zero shuffle), batch-equal by construction. */
  def bpeTokenize(stream: DataFrame, model: graft.ext.Bpe.Model,
                  textCol: String): DataFrame =
    stream.withColumn("bpe_tokens", model.encodeCol(col(textCol)))
      .withColumn("n_bpe_tokens", size(col("bpe_tokens")).cast("long"))

  /** DSIR importance scoring on a stream: every arriving document scored
    * against a FROZEN [[graft.ext.Importance.HashedLm]] (trained once on
    * a batch reference via `trainHashedLm`). The LM rides in the
    * expression as a literal map, so this is stateless and shuffle-free
    * — the train-once-score-many production shape, with the stream
    * scoring path provably equal to the batch one (same expression). */
  def importanceScore(stream: DataFrame, textCol: String,
                      lm: graft.ext.Importance.HashedLm,
                      scoreCol: String = "imp_logratio"): DataFrame =
    stream.withColumn(scoreCol,
      graft.ext.Importance.scoreWith(lm, col(textCol)))

  /** Ingestion drift telemetry: per tumbling window, the distribution of
    * frozen-LM scores ([[importanceScore]]) over arriving documents —
    * mean/min/max log-ratio plus doc count. A reference-trained LM makes
    * "does this hour's crawl still look like the reference corpus" a
    * single windowed aggregation; a sustained mean drop is the page. The
    * windowed arm of [[graft.ext.Importance.vocabDivergence]]'s batch
    * comparison, with state bounded by windows per watermark horizon. */
  def driftTelemetry(stream: DataFrame, tsCol: String, textCol: String,
                     lm: graft.ext.Importance.HashedLm,
                     windowLen: String, watermark: String): DataFrame =
    importanceScore(stream, textCol, lm)
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("imp_logratio")).as("mean_score"),
        min(col("imp_logratio")).as("min_score"),
        max(col("imp_logratio")).as("max_score"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_docs"), col("mean_score"), col("min_score"), col("max_score"))

  /** Per-window frequent-term telemetry: the streaming arm of
    * [[graft.ext.Frequent]] — each tumbling window emits its Misra–Gries
    * top terms as (window_start, window_end, item, est, max_undercount).
    * The sketch is a mergeable `Aggregator`, so Structured Streaming's
    * partial/merge state machine carries at most k counters per open
    * window regardless of stream rate — the trending-terms /
    * boilerplate-burst alarm a curation ingest watches. Estimates carry
    * the sketch's one-sided guarantee (`est` never exceeds the true
    * in-window count, undercounts by ≤ ⌈n/(k+1)⌉); run the exact
    * two-pass [[graft.ext.Frequent.heavyHitters]] over the compacted
    * window in batch when exact counts matter. */
  def windowedFrequentTerms(stream: DataFrame, tsCol: String,
                            textCol: String, windowLen: String,
                            watermark: String, k: Int = 64): DataFrame = {
    val mg = udaf(new graft.ext.Frequent.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    stream
      .withWatermark(tsCol, watermark)
      .select(col(tsCol), explode(scriptTokens(col(textCol))).as("item"))
      .groupBy(window(col(tsCol), windowLen))
      .agg(mg(col("item")).as("sketch"), count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        explode(col("sketch")).as(Seq("item", "est")),
        ceil(col("n").cast("double") / (k + 1)).cast("long")
          .as("max_undercount"))
  }

  /** Gap sessions on a stream: per-key session windows via Spark's
    * built-in `session_window`, emitting one row per closed session with
    * its bounds and event count — the streaming analog of
    * [[graft.ext.Temporal.sessionize]]. State is one open window per
    * active key, closed and evicted once the watermark passes the
    * session's end — bounded by ACTIVE keys per horizon, never by stream
    * length (the batch form's per-key-history contract disappears here).
    *
    * Boundary parity note: `session_window` extends a session only while
    * the next event starts strictly BEFORE current-end (= last event +
    * gap), so an exactly-`gap` pause starts a new session on the stream
    * but continues the batch session (whose rule is `diff > gap` splits).
    * Continuous event-time data never lands on the boundary; document the
    * divergence rather than distorting either engine's native semantics.
    */
  def gapSessions(stream: DataFrame, keys: Seq[String], tsCol: String,
                  gap: String, watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"))
      .select(keys.map(col) ++ Seq(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")): _*)

  /** Watermarked stream-stream interval join — the streaming arm of
    * [[graft.ext.Temporal.rangeJoin]]: every `left` row matched to every
    * `right` row with equal `keys` and
    * `rightTs + lower <= leftTs <= rightTs + upper` (inclusive; `lower`/
    * `upper` are INTERVAL strings like "0 seconds" / "24 hours").
    * Output = all `left` columns then all `right` columns except its
    * keys — the [[graft.ext.Temporal.rangeJoin]] column contract.
    *
    * Both sides carry the SAME watermark delay, which is what bounds the
    * join state: a buffered `right` row can be dropped once the
    * watermark passes `rightTs + upper`, a `left` row once it passes
    * `leftTs - lower` — Spark derives both bounds from the time-range
    * condition, so state is O(rows per watermark horizon), never stream
    * length. Batch-equal for inner semantics on data inside the horizon
    * (spec-proven); late rows beyond the delay are dropped, which is the
    * streaming contract, not a divergence.
    *
    * `how` = "inner" (default) or "left_outer": outer emits an unmatched
    * left row null-extended only once the WATERMARK passes its match
    * window (the row is provably unmatchable from then on) — so outer
    * results trail the watermark delay, and a finite run only flushes
    * unmatched rows whose window the final watermark passed. That is
    * Spark's outer-join contract, not an approximation. */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, watermark: String,
                   lower: String, upper: String,
                   how: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one key column")
    require(how == "inner" || how == "left_outer",
      s"how must be inner|left_outer, got $how")
    val dup = left.columns.toSet
      .intersect(right.columns.toSet.diff(keys.toSet))
    require(dup.isEmpty,
      s"intervalJoin: non-key columns shared by both sides (rename first): ${dup.mkString(", ")}")
    // the wholesale __r_* rename must stay ours (the batch joins' guard)
    val clash = left.columns.filter(_.startsWith("__r_"))
    require(clash.isEmpty,
      s"intervalJoin: reserved column names in input (rename first): ${clash.mkString(", ")}")
    val l = left.withWatermark(leftTs, watermark)
    // rename the right side wholesale so the condition resolves by name;
    // watermark AFTER the rename — an alias mints a fresh attribute
    // without the event-time tag (the dedupByContent lesson)
    val r = right.select(right.columns.toIndexedSeq
        .map(c => col(c).as(s"__r_$c")): _*)
      .withWatermark(s"__r_$rightTs", watermark)
    val cond = keys.map(c => col(c) === col(s"__r_$c")).reduce(_ && _) &&
      col(leftTs) >= expr(s"`__r_$rightTs` + INTERVAL $lower") &&
      col(leftTs) <= expr(s"`__r_$rightTs` + INTERVAL $upper")
    val out = left.columns.toIndexedSeq.map(col) ++
      right.columns.toIndexedSeq.filterNot(keys.contains)
        .map(c => col(s"__r_$c").as(c))
    l.join(r, cond, how).select(out: _*)
  }

  /** CUSTOM-STATE example the built-in operators can't express: a running
    * per-content-fingerprint duplicate counter. Where `dedupByContent`
    * keeps first arrivals and drops the rest silently, this emits an
    * updated (fingerprint, n_seen, first_seen) row on every arrival — the
    * telemetry a training-data ingest uses to find boilerplate storms.
    *
    * `flatMapGroupsWithState` with event-time timeout: state for a
    * fingerprint is dropped once the watermark passes its last arrival by
    * the timeout, so state size is bounded by the number of DISTINCT
    * fingerprints per horizon, not by stream length. Partitioned by the
    * 8-byte fingerprint key — the stateful shuffle carries (long, ts)
    * pairs, never the documents. */
  def duplicateCounts(stream: DataFrame, textCol: String, tsCol: String,
                      watermark: String, stateTimeout: String = "1 hour"): Dataset[DupCount] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .select(col("__fp").as("fp"), col(tsCol).cast("timestamp").as("ts"))
      // malformed rows (null text → null fingerprint, null/uncastable
      // timestamp) are skipped, not allowed to kill the query: the tuple
      // encoder rejects null Longs and getTime NPEs on null timestamps
      .filter(col("fp").isNotNull && col("ts").isNotNull)
      // watermark AFTER the projection: a cast/rename creates a fresh
      // attribute without the event-time tag, which EventTimeTimeout
      // rejects at analysis
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), DupCount](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (fp, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // fold the group iterator in ONE pass with O(1) accumulators:
            // the motivating case (boilerplate storms — millions of
            // identical docs in one micro-batch) is exactly the one that
            // would buffer the most tuples if this materialized the group
            var arrivals = 0L
            var batchMin = Long.MaxValue
            var batchMax = Long.MinValue
            rows.foreach { r =>
              val t = r._2.getTime
              arrivals += 1
              if (t < batchMin) batchMin = t
              if (t > batchMax) batchMax = t
            }
            val (firstSeen, prev, lastSeen) = state.getOption
              .getOrElse((batchMin, 0L, batchMax))
            val n = prev + arrivals
            // out-of-order batches must not skew either boundary: a LATE
            // batch can carry the TRUE first arrival (take the min) and
            // must not rebase the timeout earlier (keep the max)
            val newFirst = math.min(firstSeen, batchMin)
            val newLast = math.max(lastSeen, batchMax)
            state.update((newFirst, n, newLast))
            state.setTimeoutTimestamp(newLast, stateTimeout)
            Iterator.single(DupCount(fp, n, newFirst))
          }
      }
  }

  // ---- persisted-index sinks ----------------------------------------------
  // The append-a-crawl loop as a LIVE stream: each micro-batch appends to
  // a build-once artifact through foreachBatch, with the stream's batchId
  // as the artifact's idempotence key. Spark re-runs a failed trigger
  // under the SAME batchId after recovery (replayable sources, e.g. the
  // file source), and the keyed append (graft.ext.ArtifactIO's batch
  // lifecycle, see its header) overwrites its own batch=<id> partitions
  // instead of double-writing — checkpoint replay + idempotent append =
  // end-to-end exactly-once, the standard foreachBatch pattern.
  // Compacting the artifact mid-stream is ALSO safe: the compaction folds
  // every batch id into the artifact's ledger first, so a trigger
  // replayed after its partition was folded away no-ops instead of
  // re-appending data the compact batch already holds.
  //
  // `compactEvery = n` (default 0 = never) runs the artifact's compactor
  // after every n-th trigger, bounding the batch-partition count a
  // long-running stream accumulates (file count AND partition-discovery
  // listing otherwise grow one batch per trigger, forever). Safe under
  // replay by the ledger argument above, and cheap to place here: the
  // foreachBatch callback runs serially on the driver between triggers,
  // so the compaction can never race its own stream's appends (the
  // writer lease would catch a SECOND stream on the same artifact).

  private def maybeCompact(batchId: Long, compactEvery: Int)
                          (compact: => Unit): Unit =
    if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
      compact

  /** foreachBatch sink appending each micro-batch of (idCol, textCol)
    * documents to a [[graft.ext.DedupIndex]] artifact (which must exist
    * — [[graft.ext.DedupIndex.build]] it first, an empty frame is fine):
    * {{{
    * docs.writeStream.option("checkpointLocation", cp)
    *   .foreachBatch(StreamOps.dedupIndexSink(path, "doc_id", "text"))
    *   .start()
    * }}}
    * Pair with [[graft.ext.DedupIndex.duplicateFlag]] /
    * `nearDuplicateFlag` on the query side, or the batch
    * `newAgainst` searches. */
  def dedupIndexSink(path: String, idCol: String, textCol: String,
                     compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.ext.DedupIndex.append(batch, idCol, textCol, path,
        batchId = Some(s"stream-$batchId"))
      maybeCompact(batchId, compactEvery) {
        graft.ext.DedupIndex.compact(batch.sparkSession, path); ()
      }
    }

  /** [[dedupIndexSink]] for a BM25 text index
    * ([[graft.ext.Retrieval.buildTextIndex]] artifact): per-batch
    * postings and stats rows land idempotently; searches see every
    * committed trigger. */
  def textIndexSink(path: String, idCol: String, textCol: String,
                    compactEvery: Int = 0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      graft.ext.Retrieval.appendTextIndex(batch, idCol, textCol, path,
        batchId = Some(s"stream-$batchId"))
      maybeCompact(batchId, compactEvery) {
        graft.ext.Retrieval.compactTextIndex(batch.sparkSession, path)
      }
    }
}
