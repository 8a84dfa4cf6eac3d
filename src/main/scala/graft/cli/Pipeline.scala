package graft.cli

import graft.ext.{Dedup, Importance, ScoreFilter, Split, TextAnalysis}
import graft.core.Pin
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** `graft pipeline` — a JSON-recipe curation-pipeline runner chaining the
  * engine's corpus operators into one job, with per-stage row accounting.
  * Productizes the composition the `CurationPipelineSpec` chain proves:
  * normalize → rule filters → dedup → decontaminate → scoring/selection →
  * train-order, each stage consuming the previous stage's output.
  *
  * {{{
  * graft pipeline --recipe=<file.json> [--input=...] [--output=...]
  * }}}
  *
  * Recipe shape (flags override the top-level input/output):
  * {{{
  * { "input": "<path>",  "input_mode": "parquet",
  *   "output": "<dir>",  "output_mode": "parquet",
  *   "id_col": "doc_id", "text_col": "text",
  *   "audit": true,
  *   "layout": {"zorder": ["lang", "doc_id"], "files": 16, "bits": 8},
  *   "stages": [
  *     {"op": "normalize", "redact": true},
  *     {"op": "check", "on_fail": "fail",
  *      "constraints": [{"kind": "not_null", "col": "doc_id"},
  *                      {"kind": "unique", "cols": ["doc_id"]}]},
  *     {"op": "filter", "predicate": "lang = 'en'"},
  *     {"op": "gopher", "min_words": 30, "min_stopword_hits": 1,
  *      "stopwords": ["the","and"], "repetition": false},
  *     {"op": "repetition"},
  *     {"op": "dedup_exact"},
  *     {"op": "dedup_near", "threshold": 0.8, "num_hashes": 64,
  *      "bands": 16, "shingle_len": 5},
  *     {"op": "decontaminate", "benchmark": "<path>",
  *      "benchmark_text_col": "text", "n": 50},
  *     {"op": "decontaminate_fuzzy", "benchmark": "<path>",
  *      "benchmark_text_col": "text", "threshold": 0.8},
  *     {"op": "leakage_safe_split", "fractions": [
  *       {"label": "train", "fraction": 0.9},
  *       {"label": "val", "fraction": 0.05},
  *       {"label": "test", "fraction": 0.05}]},
  *     {"op": "quality_top_fraction", "fraction": 0.6},
  *     {"op": "token_budget", "budget": 1000000},
  *     {"op": "dsir_select", "target": "<sql predicate>", "fraction": 0.3,
  *      "temperature": 1.0, "buckets": 8192, "ngram": 1, "exact": false},
  *     {"op": "train_order", "salt": "v1", "shards": 1024}
  *   ] }
  * }}}
  *
  * One plan, whatever `audit` says. The runner pins
  * ([[graft.core.Pin.eager]]) only what is read more than once: the input
  * of a stage whose op re-reads it (`rereads` in the op table below) and
  * the input of a writer that runs two actions (the z-order layout) or
  * runs outside Spark SQL (avro, which reports no observed metric). Every
  * other stage stays fused in one lazy plan and runs once, in the next pin
  * or in the output write. The source and each stage's output carry an
  * `Observation` of their row count, filled by that pin or write.
  *
  * `audit` (the default) only decides whether `_stages.json` — `[{stage,
  * op, rows_in, rows_out, seconds}, ...]` — is written next to the output
  * and a stderr line printed per stage. A stage's `seconds` run from its
  * start until its output is built and, if the next stage re-reads it,
  * pinned (the last stage's include the output write), so a fused lazy
  * stage's execution is charged to the first stage at or after it whose
  * output is pinned or written.
  *
  * Scale notes: every stage maps to an operator whose 100 TB shape is
  * documented on the operator itself (fingerprint shuffles, banded LSH,
  * broadcast probes, boundary-bucket ranks — never a global sort or an
  * all-pairs join). The runner adds no shuffles of its own.
  */
object Pipeline {

  final case class StageStat(stage: Int, op: String, rowsIn: Long,
                             rowsOut: Long, seconds: Double)

  /** The recipe's output directory, or `--output` when given. */
  def output(recipePath: String, flags: Map[String, String]): String =
    top(parseRecipe(recipePath), flags, "output")

  private def top(recipe: Map[String, Any], flags: Map[String, String],
                  k: String, dflt: Option[String] = None): String =
    flags.get(k.replace('_', '-'))
      .orElse(recipe.get(k).map(_.toString)).orElse(dflt)
      .getOrElse(throw new IllegalArgumentException(
        s"pipeline recipe needs '$k' (or --${k.replace('_', '-')})"))

  /** Runs the recipe and writes its output (`graft pipeline` skips a
    * complete output before it gets here); returns the per-stage stats.
    * When a concurrent run completes the output first, the write is
    * skipped, and the row counts only it would have observed (the stages
    * after the last pin) are -1 at once. */
  def run(recipePath: String, flags: Map[String, String],
          spark: SparkSession): Seq[StageStat] = {
    val recipe = parseRecipe(recipePath)
    def topStr(k: String, dflt: Option[String] = None) = top(recipe, flags, k, dflt)
    val out = topStr("output")
    val ctx = Ctx(topStr("id_col", Some("doc_id")), topStr("text_col", Some("text")), spark)
    val outMode = topStr("output_mode", Some("parquet"))
    val audit = bool(recipe, "audit", dflt = true)
    val stages = recipe.get("stages") match {
      case Some(s: Seq[_]) => s.zipWithIndex.map {
        case (m: Map[_, _], i) =>
          val stage = m.asInstanceOf[Map[String, Any]]
          val op = stage.getOrElse("op", throw new IllegalArgumentException(
            s"stage $i has no 'op'")).toString
          (i, op, stage, Ops.getOrElse(op, throw new IllegalArgumentException(
            s"unknown pipeline op '$op' (known: ${Ops.keys.mkString(", ")})")))
        case (other, i) => throw new IllegalArgumentException(
          s"stage $i is not an object: $other")
      }
      case _ => throw new IllegalArgumentException(
        "pipeline recipe needs a 'stages' array")
    }

    // {"layout": {"zorder": [cols...], "files": N, "bits": B}} clusters the
    // output (graft.ext.Layout); validated, like every op, before any stage runs
    val layout = recipe.get("layout").map {
      case m: Map[_, _] =>
        val l = m.asInstanceOf[Map[String, Any]]
        val zcols = l.get("zorder") match {
          case Some(s: Seq[_]) if s.nonEmpty => s.map(_.toString)
          case _ => throw new IllegalArgumentException(
            "layout needs a non-empty 'zorder' column array")
        }
        require(outMode == "parquet",
          s"layout.zorder writes parquet, got output_mode=$outMode")
        (l, zcols)
      case other => throw new IllegalArgumentException(
        s"'layout' must be an object, got $other")
    }
    // returns whether it wrote: Graft.write skips an output a concurrent
    // run completed meanwhile
    def write(df: DataFrame): Boolean = layout match {
      case Some((l, zcols)) =>
        graft.ext.Layout.zorderWrite(Pin.eager(df), zcols, out,
          numFiles = long(l, "files", 16L).toInt, bits = long(l, "bits", 8L).toInt)
        true
      case None =>
        Graft.write(if (outMode == "avro") Pin.eager(df) else df, out, outMode)
    }
    // a pin or write fills the observations left in its optimized plan;
    // one the optimizer pruned (its stage sits under a filter folded to an
    // empty relation) is counted on its own
    var pending = Vector.empty[(DataFrame, Observation)]
    def observed(df: DataFrame): (DataFrame, Observation) = {
      val obs = Observation()
      pending :+= df.observe(obs, count(lit(1)).as("rows")) -> obs
      pending.last
    }
    // returns the observations left for `df`'s own action to fill
    def settled(df: DataFrame): Seq[Observation] = {
      val live = df.queryExecution.optimizedPlan.collect { case m: CollectMetrics => m.name }
      val (filled, pruned) = pending.partition(p => live.contains(p._2.name))
      pruned.foreach(_._1.count())
      pending = Vector.empty
      filled.map(_._2)
    }
    // the observations a skipped output write never filled
    var unwritten = Seq.empty[Observation]
    def finish(df: DataFrame): Unit = {
      val filled = settled(df)
      if (!write(df)) unwritten = filled
    }

    val (source, sourceRows) = observed(Graft.read(spark, topStr("input"),
      topStr("input_mode", Some("parquet"))))
    var df = source
    val ran = stages.zipWithIndex.map { case ((i, op, s, table), k) =>
      val t0 = System.nanoTime()
      val (built, rows) = observed(table.build(s, df, ctx))
      df = stages.lift(k + 1) match {
        case Some((_, _, _, next)) if next.rereads => settled(built); Pin.eager(built)
        case Some(_) => built
        case None => finish(built); built
      }
      (i, op, rows, (System.nanoTime() - t0) / 1e9)
    }
    if (stages.isEmpty) finish(df)

    val rows = rowCounts(sourceRows +: ran.map(_._3), unwritten.toSet)
    val stats = ran.zip(rows.zip(rows.tail)).map {
      case ((i, op, _, secs), (rowsIn, rowsOut)) => StageStat(i, op, rowsIn, rowsOut, secs)
    }
    if (audit) {
      stats.foreach(st => System.err.println(f"[graft pipeline] stage ${st.stage} " +
        f"${st.op}: ${st.rowsIn} -> ${st.rowsOut} rows in ${st.seconds}%.1f s"))
      writeStats(out, stats, spark)
    }
    stats
  }

  /** The observed row counts, -1 for one never reported: they arrive on the
    * listener bus after the action that ran them, so the wait is bounded.
    * The `unwritten` ones, which only the output write would have filled,
    * are -1 at once: the write was skipped because a concurrent run
    * completed the output, so nothing will report them. */
  private def rowCounts(obs: Seq[Observation], unwritten: Set[Observation]): Seq[Long] = {
    import scala.concurrent.duration._
    val deadline = 60.seconds.fromNow
    obs.map(o => if (unwritten(o)) -1L else scala.util.Try(scala.concurrent.Await.result(
      o.future, deadline.timeLeft max Duration.Zero)).fold(_ => -1L, _.getLong(0)))
  }

  private[cli] final case class Ctx(idCol: String, textCol: String, spark: SparkSession)

  /** A recipe op: whether it reads its input more than once (the runner
    * then pins that input, so the plan above it runs once), and how it
    * builds its output from the stage's object and its input. */
  private[cli] final case class Op(rereads: Boolean,
                                   build: (Map[String, Any], DataFrame, Ctx) => DataFrame)

  /** The op table, in the order the unknown-op message lists it. */
  private[cli] val Ops: ListMap[String, Op] = ListMap(
    "normalize" -> Op(rereads = false, (s, df, c) => {
      var cleaned = TextAnalysis.normalizeText(col(c.textCol),
        stripControl = !bool(s, "keep_control", dflt = false))
      if (bool(s, "redact", dflt = false)) cleaned = TextAnalysis.redact(cleaned)
      df.withColumn(c.textCol, cleaned)
    }),
    "filter" -> Op(rereads = false, (s, df, _) =>
      df.filter(expr(Graft.stripQuoteWrap(str(s, "predicate"))))),
    "gopher" -> Op(rereads = false, (s, df, c) => {
      val stopwords = s.get("stopwords") match {
        case None => TextAnalysis.DefaultGopherStopwords
        case Some(l: Seq[_]) => l.map(_.toString)
        case Some(other) => throw new IllegalArgumentException(
          s"gopher stopwords must be an array, got $other")
      }
      val kept = TextAnalysis.gopherFilter(df, c.textCol,
        minWords = long(s, "min_words", 50L),
        maxWords = long(s, "max_words", 100000L),
        minMeanWordLen = dbl(s, "min_mean_word_len", 3.0),
        maxMeanWordLen = dbl(s, "max_mean_word_len", 10.0),
        maxSymbolRatio = dbl(s, "max_symbol_ratio", 0.1),
        maxBulletFrac = dbl(s, "max_bullet_frac", 0.9),
        maxEllipsisFrac = dbl(s, "max_ellipsis_frac", 0.3),
        minAlphaFrac = dbl(s, "min_alpha_frac", 0.8),
        minStopwordHits = long(s, "min_stopword_hits", 2L),
        stopwords = stopwords)
      if (bool(s, "repetition", dflt = false))
        TextAnalysis.repetitionFilter(kept, c.textCol)
      else kept
    }),
    "repetition" -> Op(rereads = false, (_, df, c) =>
      TextAnalysis.repetitionFilter(df, c.textCol)),
    // keep-set of min-id representatives per 64-bit content fingerprint,
    // joined back to the input
    "dedup_exact" -> Op(rereads = true, (_, df, c) =>
      df.join(Dedup.exactByFingerprint(df, c.idCol, c.textCol).select(c.idCol), c.idCol)),
    "dedup_near" -> Op(rereads = true, (s, df, c) => {
      val pairs = Dedup.minhashNearDups(df, c.idCol, c.textCol,
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt,
        threshold = dbl(s, "threshold", 0.8))
      Dedup.dropNearDups(df, c.idCol, Dedup.connectedComponents(pairs))
    }),
    // one read through a broadcast probe of the benchmark's n-grams (a
    // benchmark past `maxBenchGrams` falls back to a two-read semi-join)
    "decontaminate" -> Op(rereads = false, (s, df, c) =>
      TextAnalysis.decontaminate(df, c.idCol, c.textCol, benchmark(s, c),
        str(s, "benchmark_text_col", Some(c.textCol)), n = long(s, "n", 50L).toInt)),
    // the near-duplicate complement of "decontaminate": drops docs whose
    // whole-text shingle-Jaccard vs some benchmark row reaches the
    // threshold — catches lightly-edited eval leaks no exact n-gram sees
    "decontaminate_fuzzy" -> Op(rereads = true, (s, df, c) =>
      TextAnalysis.decontaminateFuzzy(df, c.idCol, c.textCol, benchmark(s, c),
        str(s, "benchmark_text_col", Some(c.textCol)),
        threshold = dbl(s, "threshold", 0.8),
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt)),
    // near-dup-aware train/val/test assignment: adds `cluster` + `split`
    // columns; a near-duplicate pair can never straddle the boundary.
    // "fractions" is an ORDERED list (label boundaries are cumulative):
    //   [{"label": "train", "fraction": 0.8}, {"label": "val", ...}, ...]
    "leakage_safe_split" -> Op(rereads = true, (s, df, c) => {
      val fractions = s.get("fractions") match {
        case Some(l: Seq[_]) if l.nonEmpty => l.map {
          case m: Map[_, _] =>
            val f = m.asInstanceOf[Map[String, Any]]
            str(f, "label") -> dbl(f, "fraction", -1.0)
          case other => throw new IllegalArgumentException(
            s"fractions entries must be objects, got $other")
        }
        case _ => Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
      }
      Split.leakageSafeSplit(df, c.idCol, c.textCol, fractions,
        splitCol = str(s, "split_col", Some("split")),
        clusterCol = str(s, "cluster_col", Some("cluster")),
        seed = s.get("seed").map(asLong(_).toInt),
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt,
        threshold = dbl(s, "threshold", 0.8))
    }),
    // score with the composite quality signal, keep the top fraction (a
    // histogram collect, then the cut), then shed the signal columns: the
    // stage contract is corpus-in, corpus-out
    "quality_top_fraction" -> Op(rereads = true, (s, df, c) =>
      ScoreFilter.keepTopFraction(TextAnalysis.qualitySignals(df, c.textCol),
          "quality_score", dbl(s, "fraction", 0.5), tieBreak = Seq(c.idCol))
        .select(df.columns.toIndexedSeq.map(col): _*)),
    "token_budget" -> Op(rereads = true, (s, df, c) =>
      ScoreFilter.keepTopByBudget(TextAnalysis.qualitySignals(df, c.textCol),
          "quality_score", "n_tokens", long(s, "budget", 0L),
          tieBreak = Seq(c.idCol))
        .select(df.columns.toIndexedSeq.map(col): _*)),
    "dsir_select" -> Op(rereads = true, (s, df, c) => {
      val tgt = expr(Graft.stripQuoteWrap(str(s, "target")))
      val scores =
        if (bool(s, "exact", dflt = false))
          Importance.importanceScores(df, c.idCol, c.textCol, tgt)
        else Importance.hashedImportanceScores(df, c.idCol, c.textCol, tgt,
          nBuckets = long(s, "buckets", 8192L).toInt,
          ngramOrder = long(s, "ngram", 1L).toInt)
      val joined = df.join(
        scores.select(col("id").as(c.idCol), col("imp_logratio")), c.idCol)
      Importance.gumbelTopFraction(joined, c.idCol, "imp_logratio",
          dbl(s, "fraction", 0.5), dbl(s, "temperature", 1.0), str(s, "salt", Some("dsir")))
        .drop("imp_logratio")
    }),
    "train_order" -> Op(rereads = false, (s, df, c) =>
      Split.trainOrder(df, Seq(c.idCol), str(s, "salt", Some("graft")),
        numShards = long(s, "shards", 1024L).toInt)),
    // data-quality gate (ext/Profile.check): evaluates the declared
    // constraints in ONE aggregation action and, by default, ABORTS the
    // pipeline on any failure — a curation bug (nulled ids, collapsed
    // cardinality, leaked out-of-range values) should kill the run at
    // the stage that caused it, not surface in a trained model.
    // `"on_fail": "warn"` downgrades to logging. Identity on the data,
    // which the next stage reads again after the check's collect.
    "check" -> Op(rereads = true, (s, df, _) => {
      val cs = s.get("constraints") match {
        case Some(l: Seq[_]) if l.nonEmpty => l.map {
          case m: Map[_, _] =>
            parseConstraint(m.asInstanceOf[Map[String, Any]])
          case other => throw new IllegalArgumentException(
            s"constraint is not an object: $other")
        }
        case _ => throw new IllegalArgumentException(
          "check stage needs a non-empty 'constraints' array")
      }
      val verdicts = graft.ext.Profile.check(df, cs).collect() // 1 row/constraint
      verdicts.foreach { r =>
        System.err.println(s"[graft pipeline] check ${r.getString(0)}(" +
          s"${r.getString(1)}): observed=${r.get(2)} passed=${r.getBoolean(3)}")
      }
      val failed = verdicts.filterNot(_.getBoolean(3))
      val onFail = str(s, "on_fail", Some("fail"))
      require(onFail == "fail" || onFail == "warn",
        s"check on_fail must be 'fail' or 'warn', got '$onFail'")
      if (failed.nonEmpty && onFail == "fail")
        throw new IllegalStateException("data-quality check failed: " +
          failed.map(r => s"${r.getString(0)}(${r.getString(1)}) " +
            s"observed=${r.get(2)}").mkString("; "))
      df
    }))

  private def benchmark(s: Map[String, Any], c: Ctx): DataFrame =
    Graft.read(c.spark, str(s, "benchmark"), str(s, "benchmark_mode", Some("parquet")))

  /** JSON → [[graft.ext.Profile.Constraint]]:
    * `{"kind": "not_null", "col": "doc_id"}`,
    * `{"kind": "unique", "cols": ["doc_id"]}`,
    * `{"kind": "completeness_at_least", "col": "text", "frac": 0.99}`,
    * `{"kind": "in_range", "col": "n_chars", "lo": 1, "hi": 1e6}`,
    * `{"kind": "matches_regex", "col": "lang", "regex": "[a-z]{2}",
    *   "min_frac": 0.9}`,
    * `{"kind": "approx_distinct_between", "col": "source", "lo": 2,
    *   "hi": 100000}`. */
  private def parseConstraint(m: Map[String, Any]): graft.ext.Profile.Constraint = {
    import graft.ext.Profile._
    str(m, "kind") match {
      case "not_null" => NotNull(str(m, "col"))
      case "unique" => m.get("cols") match {
        case Some(l: Seq[_]) if l.nonEmpty => Unique(l.map(_.toString))
        case _ => throw new IllegalArgumentException(
          "unique constraint needs a non-empty 'cols' array")
      }
      case "completeness_at_least" =>
        CompletenessAtLeast(str(m, "col"), dbl(m, "frac", 1.0))
      case "in_range" =>
        InRange(str(m, "col"), dbl(m, "lo", Double.NegativeInfinity),
          dbl(m, "hi", Double.PositiveInfinity))
      case "matches_regex" =>
        MatchesRegex(str(m, "col"), str(m, "regex"), dbl(m, "min_frac", 1.0))
      case "approx_distinct_between" =>
        ApproxDistinctBetween(str(m, "col"), long(m, "lo", 0L),
          long(m, "hi", Long.MaxValue))
      case other => throw new IllegalArgumentException(
        s"unknown constraint kind '$other'")
    }
  }

  // ---- recipe parsing (json4s ships with Spark) ----------------------

  private def parseRecipe(path: String): Map[String, Any] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    org.json4s.jackson.JsonMethods.parse(text) match {
      case o: org.json4s.JObject => o.values
      case other => throw new IllegalArgumentException(
        s"recipe must be a JSON object, got ${other.getClass.getSimpleName}")
    }
  }

  private def str(s: Map[String, Any], k: String, dflt: Option[String] = None): String =
    s.get(k).map(_.toString).orElse(dflt).getOrElse(throw new IllegalArgumentException(
      s"stage '${s.getOrElse("op", "?")}' needs '$k'"))

  private def long(s: Map[String, Any], k: String, dflt: Long): Long =
    s.get(k).map(asLong).getOrElse(dflt)

  private def dbl(s: Map[String, Any], k: String, dflt: Double): Double =
    s.get(k).fold(dflt) { case d: Double => d; case other => asLong(other).toDouble }

  private def bool(s: Map[String, Any], k: String, dflt: Boolean): Boolean =
    s.get(k).fold(dflt)(_.toString.toBoolean)

  private def asLong(v: Any): Long = v match {
    case i: BigInt => i.toLong
    case l: Long   => l
    case i: Int    => i.toLong
    case d: Double if d.isWhole => d.toLong
    case other => throw new IllegalArgumentException(
      s"expected an integer, got $other")
  }

  /** `_stages.json` next to the corpus — Hadoop FS so hdfs:/s3a: outputs
    * work, not just local paths. */
  private def writeStats(out: String, stats: Seq[StageStat],
                         spark: SparkSession): Unit = {
    val json = stats.map { st =>
      // Locale.ROOT: a comma-decimal default locale would emit "1,234"
      // and produce invalid JSON
      s"""{"stage":${st.stage},"op":"${st.op}","rows_in":${st.rowsIn},""" +
        s""""rows_out":${st.rowsOut},"seconds":${"%.3f".formatLocal(
          java.util.Locale.ROOT, st.seconds)}}"""
    }.mkString("[\n ", ",\n ", "\n]\n")
    val p = new org.apache.hadoop.fs.Path(out, "_stages.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }
}
