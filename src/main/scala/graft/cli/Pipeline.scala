package graft.cli

import graft.ext.{Dedup, Importance, ScoreFilter, Split, TextAnalysis}
import graft.core.Pin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Per-stage accounting: with `audit` (the default) each stage's output is
  * pinned and counted in one job ([[graft.core.Pin.counted]]), and the
  * runner writes `_stages.json` — `[{stage, op, rows_in, rows_out,
  * seconds}, ...]` — next to the output. The pin means every stage's work
  * runs exactly once (the count materializes it) and the lineage stays
  * bounded across a long chain; that is also the shape you want on a cluster, where a 10-stage
  * lazy chain would otherwise re-run stage 1 under every action.
  * `"audit": false` keeps the chain one lazy plan with no per-stage counts
  * and nothing pinned until the output write, but then every stage that
  * runs a Spark job of its own re-runs the whole chain above it from the
  * source scan: on the pipeline_e2e gate's recipe over the sf0.01
  * documents (4 local cores), 9 jobs read all 500 source rows again
  * (quality_top_fraction's threshold in 2, token_budget's cut in 3, the
  * layout pin in 4): 20 jobs and 4,635 input records against audit's 23
  * jobs and 2,550, in 7.5 s against 3.4 s.
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

  /** Runs the recipe and writes its output, whether or not the output
    * already exists (`graft pipeline` skips a complete output before it
    * gets here); returns the per-stage stats (empty when `audit: false`). */
  def run(recipePath: String, flags: Map[String, String],
          spark: SparkSession): Seq[StageStat] = {
    val recipe = parseRecipe(recipePath)
    def topStr(k: String, dflt: Option[String] = None): String =
      top(recipe, flags, k, dflt)
    val out = topStr("output")
    val idCol = topStr("id_col", Some("doc_id"))
    val textCol = topStr("text_col", Some("text"))
    val audit = recipe.get("audit").forall(asBool)
    val stages = recipe.get("stages") match {
      case Some(s: Seq[_]) => s.zipWithIndex.map {
        case (m: Map[_, _], i) =>
          (i, m.asInstanceOf[Map[String, Any]])
        case (other, i) => throw new IllegalArgumentException(
          s"stage $i is not an object: $other")
      }
      case _ => throw new IllegalArgumentException(
        "pipeline recipe needs a 'stages' array")
    }

    // optional output layout: {"layout": {"zorder": [cols...], "files": N,
    // "bits": B}} writes the corpus z-order-clustered on the named columns
    // (graft.ext.Layout) so downstream scans prune files on ALL of them —
    // the natural last step of a curation recipe whose output is queried
    // by (source, date), (lang, quality), ... at 100 TB. Validated HERE,
    // before any stage runs: a malformed layout must not throw only after
    // hours of curation work have completed.
    val layout = recipe.get("layout").map {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"'layout' must be an object, got $other")
    }
    val layoutCols = layout.map { l =>
      val zcols = l.get("zorder") match {
        case Some(s: Seq[_]) if s.nonEmpty => s.map(_.toString)
        case _ => throw new IllegalArgumentException(
          "layout needs a non-empty 'zorder' column array")
      }
      val mode = topStr("output_mode", Some("parquet"))
      require(mode == "parquet",
        s"layout.zorder writes parquet, got output_mode=$mode")
      zcols
    }

    var df = Graft.read(spark, topStr("input"),
      topStr("input_mode", Some("parquet")))
    var stats = Vector.empty[StageStat]
    var rowsIn = if (audit) df.count() else -1L
    for ((i, stage) <- stages) {
      val op = stage.getOrElse("op", throw new IllegalArgumentException(
        s"stage $i has no 'op'")).toString
      val t0 = System.nanoTime()
      df = applyStage(op, stage, df, idCol, textCol, spark)
      if (audit) {
        // pin + count in one job: the stage runs exactly once, lineage
        // stays bounded
        val (pinned, rowsOut) = Pin.counted(df)
        df = pinned
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[graft pipeline] stage $i $op: $rowsIn -> $rowsOut rows in $secs%.1f s")
        stats :+= StageStat(i, op, rowsIn, rowsOut, secs)
        rowsIn = rowsOut
      }
    }

    // zorderWrite runs TWO actions (boundary sketch + clustered write);
    // with audit on, df is already pinned by the last stage's pin —
    // without audit an unpinned chain would re-run every stage for each
    // action, so pin it here
    val finalDf = if (layoutCols.isDefined && !audit) Pin.eager(df) else df
    (layout, layoutCols) match {
      case (Some(l), Some(zcols)) =>
        graft.ext.Layout.zorderWrite(finalDf, zcols, out,
          numFiles = long(l, "files", 16L).toInt,
          bits = long(l, "bits", 8L).toInt)
      case _ =>
        Graft.write(finalDf, out, topStr("output_mode", Some("parquet")))
    }
    if (audit) writeStats(out, stats, spark)
    stats
  }

  private def applyStage(op: String, s: Map[String, Any], df: DataFrame,
                         idCol: String, textCol: String,
                         spark: SparkSession): DataFrame = op match {
    case "normalize" =>
      var cleaned = TextAnalysis.normalizeText(col(textCol),
        stripControl = !bool(s, "keep_control", dflt = false))
      if (bool(s, "redact", dflt = false)) cleaned = TextAnalysis.redact(cleaned)
      df.withColumn(textCol, cleaned)

    case "filter" =>
      df.filter(expr(Graft.stripQuoteWrap(str(s, "predicate"))))

    case "gopher" =>
      val stopwords = s.get("stopwords") match {
        case None => TextAnalysis.DefaultGopherStopwords
        case Some(l: Seq[_]) => l.map(_.toString)
        case Some(other) => throw new IllegalArgumentException(
          s"gopher stopwords must be an array, got $other")
      }
      val kept = TextAnalysis.gopherFilter(df, textCol,
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
        TextAnalysis.repetitionFilter(kept, textCol)
      else kept

    case "repetition" =>
      TextAnalysis.repetitionFilter(df, textCol)

    case "dedup_exact" =>
      // keep-set of min-id representatives per 64-bit content fingerprint
      df.join(Dedup.exactByFingerprint(df, idCol, textCol).select(idCol), idCol)

    case "dedup_near" =>
      val pairs = Dedup.minhashNearDups(df, idCol, textCol,
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt,
        threshold = dbl(s, "threshold", 0.8))
      Dedup.dropNearDups(df, idCol, Dedup.connectedComponents(pairs))

    case "decontaminate" =>
      val bench = Graft.read(spark, str(s, "benchmark"),
        s.get("benchmark_mode").map(_.toString).getOrElse("parquet"))
      TextAnalysis.decontaminate(df, idCol, textCol, bench,
        s.get("benchmark_text_col").map(_.toString).getOrElse(textCol),
        n = long(s, "n", 50L).toInt)

    // the near-duplicate complement of "decontaminate": drops docs whose
    // whole-text shingle-Jaccard vs some benchmark row reaches the
    // threshold — catches lightly-edited eval leaks no exact n-gram sees
    case "decontaminate_fuzzy" =>
      val bench = Graft.read(spark, str(s, "benchmark"),
        s.get("benchmark_mode").map(_.toString).getOrElse("parquet"))
      TextAnalysis.decontaminateFuzzy(df, idCol, textCol, bench,
        s.get("benchmark_text_col").map(_.toString).getOrElse(textCol),
        threshold = dbl(s, "threshold", 0.8),
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt)

    // near-dup-aware train/val/test assignment: adds `cluster` + `split`
    // columns; a near-duplicate pair can never straddle the boundary.
    // "fractions" is an ORDERED list (label boundaries are cumulative):
    //   [{"label": "train", "fraction": 0.8}, {"label": "val", ...}, ...]
    case "leakage_safe_split" =>
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
      Split.leakageSafeSplit(df, idCol, textCol, fractions,
        splitCol = s.get("split_col").map(_.toString).getOrElse("split"),
        clusterCol = s.get("cluster_col").map(_.toString).getOrElse("cluster"),
        seed = s.get("seed").map(asLong(_).toInt),
        numHashes = long(s, "num_hashes", 64L).toInt,
        bands = long(s, "bands", 16L).toInt,
        shingleLen = long(s, "shingle_len", 5L).toInt,
        threshold = dbl(s, "threshold", 0.8))

    case "quality_top_fraction" =>
      // score with the composite quality signal, keep the top fraction,
      // then shed the signal columns: the stage contract is corpus-in,
      // corpus-out
      val cols = df.columns.toIndexedSeq.map(col)
      ScoreFilter.keepTopFraction(TextAnalysis.qualitySignals(df, textCol),
          "quality_score", dbl(s, "fraction", 0.5), tieBreak = Seq(idCol))
        .select(cols: _*)

    case "token_budget" =>
      val cols = df.columns.toIndexedSeq.map(col)
      ScoreFilter.keepTopByBudget(TextAnalysis.qualitySignals(df, textCol),
          "quality_score", "n_tokens", long(s, "budget", 0L),
          tieBreak = Seq(idCol))
        .select(cols: _*)

    case "dsir_select" =>
      val tgt = expr(Graft.stripQuoteWrap(str(s, "target")))
      val scores =
        if (bool(s, "exact", dflt = false))
          Importance.importanceScores(df, idCol, textCol, tgt)
        else Importance.hashedImportanceScores(df, idCol, textCol, tgt,
          nBuckets = long(s, "buckets", 8192L).toInt,
          ngramOrder = long(s, "ngram", 1L).toInt)
      val joined = df.join(
        scores.select(col("id").as(idCol), col("imp_logratio")), idCol)
      Importance.gumbelTopFraction(joined, idCol, "imp_logratio",
          dbl(s, "fraction", 0.5), dbl(s, "temperature", 1.0),
          s.get("salt").map(_.toString).getOrElse("dsir"))
        .drop("imp_logratio")

    case "train_order" =>
      Split.trainOrder(df, Seq(idCol),
        s.get("salt").map(_.toString).getOrElse("graft"),
        numShards = long(s, "shards", 1024L).toInt)

    // data-quality gate (ext/Profile.check): evaluates the declared
    // constraints in ONE aggregation action and, by default, ABORTS the
    // pipeline on any failure — a curation bug (nulled ids, collapsed
    // cardinality, leaked out-of-range values) should kill the run at
    // the stage that caused it, not surface in a trained model.
    // `"on_fail": "warn"` downgrades to logging. Identity on the data.
    case "check" =>
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
      val onFail = s.get("on_fail").map(_.toString).getOrElse("fail")
      require(onFail == "fail" || onFail == "warn",
        s"check on_fail must be 'fail' or 'warn', got '$onFail'")
      if (failed.nonEmpty && onFail == "fail")
        throw new IllegalStateException("data-quality check failed: " +
          failed.map(r => s"${r.getString(0)}(${r.getString(1)}) " +
            s"observed=${r.get(2)}").mkString("; "))
      df

    case other => throw new IllegalArgumentException(
      s"unknown pipeline op '$other' (known: normalize, filter, gopher, " +
        "repetition, dedup_exact, dedup_near, decontaminate, " +
        "decontaminate_fuzzy, leakage_safe_split, quality_top_fraction, " +
        "token_budget, dsir_select, train_order, check)")
  }

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

  private def str(s: Map[String, Any], k: String): String =
    s.getOrElse(k, throw new IllegalArgumentException(
      s"stage '${s.getOrElse("op", "?")}' needs '$k'")).toString

  private def long(s: Map[String, Any], k: String, dflt: Long): Long =
    s.get(k).map(asLong).getOrElse(dflt)

  private def dbl(s: Map[String, Any], k: String, dflt: Double): Double =
    s.get(k) match {
      case None => dflt
      case Some(d: Double) => d
      case Some(other) => asLong(other).toDouble
    }

  private def bool(s: Map[String, Any], k: String, dflt: Boolean): Boolean =
    s.get(k).map(asBool).getOrElse(dflt)

  private def asBool(v: Any): Boolean = v match {
    case b: Boolean => b
    case other => other.toString.toBoolean
  }

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
