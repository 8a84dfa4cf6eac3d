package graft.ext

import graft.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token counting,
  * quality scoring, language identification, and document fingerprinting.
  * All pure column expressions (codegen'd, partition-local, no shuffle) —
  * at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Script-aware token count ([[graft.GraftFunctions.scriptTokens]] —
    * whitespace words, plus one token per no-space-script code point). */
  def tokenCount(text: Column): Column = size(scriptTokens(text))

  /** BPE-ish subword count estimate: word-piece boundaries approximated by
    * splitting on non-alphanumerics and counting ~4-char pieces — the
    * standard chars/4 heuristic, refined by punctuation/digit runs counted
    * as single tokens. */
  def approxBpeTokenCount(text: Column): Column = {
    val words = scriptTokens(text)
    val wordPieces = aggregate(words, lit(0L),
      (acc, w) => acc + greatest(ceil(length(w).cast("double") / 4.0), lit(1L)))
    val punct = length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))
    wordPieces + punct.cast("long")
  }

  /** Quality-signal columns: length, token stats, punctuation/stopword/
    * uppercase ratios, repetition. A composite [0,1] score suitable for
    * threshold filtering (Gopher/C4-style heuristics from public corpus-
    * curation literature). */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = scriptTokens(t)
    val nTok = size(toks).cast("double")
    val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "that", "for", "it")
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(array_intersect(transform(toks, w => lower(w)), stopArr)).cast("double")
    df
      .withColumn("n_chars", length(t))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_token_len",
        when(nTok > 0, aggregate(toks, lit(0L), (a, w) => a + length(w)).cast("double") / nTok))
      .withColumn("punct_ratio",
        length(regexp_replace(t, "[^.,;:!?]", "")).cast("double") /
          greatest(length(t), lit(1)).cast("double"))
      .withColumn("stopword_hit_ratio", when(nTok > 0, nStop / least(nTok, lit(10.0))))
      .withColumn("dup_token_ratio",
        when(nTok > 0, lit(1.0) - size(array_distinct(toks)).cast("double") / nTok))
      .withColumn("quality_score",
        least(greatest(
          lit(0.5) * when(col("mean_token_len").between(3, 10), 1.0).otherwise(0.3) +
            lit(0.3) * (lit(1.0) - coalesce(col("dup_token_ratio"), lit(1.0))) +
            lit(0.2) * coalesce(col("stopword_hit_ratio"), lit(0.0)),
          lit(0.0)), lit(1.0)))
  }

  /** Gopher's required-word list (Rae et al. '21, appendix A1.1) — the
    * default for [[gopherSignals]]' `stopwords`. English-only by the
    * paper's construction; pass a language-appropriate list (and usually
    * a lower `minAlphaFrac`) to curate non-English corpora. */
  val DefaultGopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher/MassiveText rule-based quality signals (Rae et al. '21,
    * appendix A1.1 — the standard web-corpus filter set): per document,
    * word count, mean word length, symbol-to-word ratio ('#' and '…'/
    * '...'), bullet-line and ellipsis-line fractions, alphabetic-word
    * fraction, distinct required-stopword hits, and the composite `keep`
    * verdict under the classic thresholds. Pure Catalyst (split/filter/
    * aggregate over the token array — no UDF, one narrow pass); every
    * rule is expressed with engine-portable primitives so a SQL oracle
    * replicates it value-exactly.
    *
    * Every threshold and the required-word list are parameters (paper
    * defaults) so non-English profiles curate end-to-end: an empty
    * `stopwords` list disables the rule (hits pinned to 0 — pair it with
    * `minStopwordHits = 0`). */
  def gopherSignals(df: DataFrame, textCol: String,
                    minWords: Long = 50L, maxWords: Long = 100000L,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    maxSymbolRatio: Double = 0.1,
                    maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                    minAlphaFrac: Double = 0.8,
                    minStopwordHits: Long = 2L,
                    stopwords: Seq[String] = DefaultGopherStopwords): DataFrame = {
    val t = col(textCol)
    val words = scriptTokens(t)
    val n = size(words).cast("double")
    val lowered = transform(words, w => lower(w))
    // required-word hits count DISTINCT stopwords found (filter the
    // literal list, not the document) so both engines agree by
    // construction
    val stops = stopwords.map(_.toLowerCase)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    // ellipses count both spellings: each literal "..." run-of-three and
    // each single U+2026 character (Gopher A1 counts the ellipsis
    // character too; the two cannot overlap, so the sum is exact). Kept as
    // two terms added left-to-right so the oracle's IEEE addition order
    // matches bit-for-bit
    val nEllipsis3 = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val nEllipsis1 = length(t) - length(regexp_replace(t, "…", ""))
    val lines = split(t, "\n")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val out = df
      .withColumn("word_count", size(words).cast("long"))
      .withColumn("mean_word_len", when(n > 0,
        aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / n))
      .withColumn("symbol_ratio",
        when(n > 0, (nHash + nEllipsis3 + nEllipsis1).cast("double") / n))
      .withColumn("bullet_frac",
        size(filter(lines, l =>
          ltrim(l).startsWith("- ") || ltrim(l).startsWith("• ")))
          .cast("double") / nLines)
      .withColumn("ellipsis_frac",
        size(filter(lines, l =>
          rtrim(l).endsWith("...") || rtrim(l).endsWith("…")))
          .cast("double") / nLines)
      .withColumn("alpha_word_frac", when(n > 0,
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / n))
      .withColumn("stopword_hits",
        if (stops.isEmpty) lit(0L) // array() of zero lits has no type
        else size(filter(array(stops.map(lit): _*),
          sw => array_contains(lowered, sw))).cast("long"))
    out.withColumn("keep", coalesce(
      col("word_count").between(minWords, maxWords) &&
        col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("bullet_frac") <= maxBulletFrac &&
        col("ellipsis_frac") <= maxEllipsisFrac &&
        col("alpha_word_frac") >= minAlphaFrac &&
        col("stopword_hits") >= minStopwordHits,
      lit(false)))
  }

  /** [[gopherSignals]]' composite filter: the rows a Gopher-rule curation
    * pass keeps, original columns only. Same parameter surface (paper
    * defaults), so non-English profiles filter end-to-end. */
  def gopherFilter(df: DataFrame, textCol: String,
                   minWords: Long = 50L, maxWords: Long = 100000L,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                   minAlphaFrac: Double = 0.8,
                   minStopwordHits: Long = 2L,
                   stopwords: Seq[String] = DefaultGopherStopwords): DataFrame = {
    val cols = df.columns.toIndexedSeq.map(col)
    gopherSignals(df, textCol, minWords, maxWords, minMeanWordLen,
        maxMeanWordLen, maxSymbolRatio, maxBulletFrac, maxEllipsisFrac,
        minAlphaFrac, minStopwordHits, stopwords)
      .filter(col("keep")).select(cols: _*)
  }

  /** Per-doc repetition signals — the OTHER half of Gopher's Table A1
    * (Rae et al. '21, "repetitious text" filters; reference quality scoring
    * role: ratatool BigSampler's per-record signals, re-expressed for
    * curation):
    *   - `dup_line_frac` / `dup_para_frac`: 1 − distinct/total over
    *     NON-EMPTY lines (split '\n') / paragraphs (split '\n\n').
    *     Empties are structure, not content — same rule as
    *     [[dedupSegmentsKeepFirst]].
    *   - `dup_line_char_frac` / `dup_para_char_frac`: characters inside
    *     duplicated lines/paragraphs (ALL occurrences) over characters in
    *     all non-empty lines/paragraphs.
    *   - `top_{2,3,4}gram_char_frac`: characters covered by the most
    *     frequent word n-gram (count × rendered length, ties broken by the
    *     longest tied gram) over the doc's character count, capped at 1.
    *   - `dup_{5..10}gram_char_frac`: characters inside word n-grams
    *     occurring more than once (all occurrences; overlaps counted, hence
    *     the cap at 1) over the doc's character count.
    * Signals are null when the doc has no qualifying units (no non-empty
    * lines; fewer than n words); `rep_keep` treats null as passing — short
    * docs are [[gopherSignals]]' word-count rule's job, not repetition's.
    *
    * Shape: ONE partition-local pass, zero shuffle — per-doc frequency
    * maps need arbitrary-key lookup, which no Catalyst array primitive
    * gives without O(len²) `aggregate` rescans or an explode+groupBy
    * SHUFFLE of every n-gram in the corpus; a bounded per-doc UDF is the
    * scale-right trade (same judgment as the winnowing anchors). Work is
    * O(Σ doc_len × 9). Lengths count CODE POINTS (Spark `length`/DuckDB
    * `length` semantics), not UTF-16 units. */
  def repetitionSignals(df: DataFrame, textCol: String,
                        maxDupLineFrac: Double = 0.30,
                        maxDupParaFrac: Double = 0.30,
                        maxDupLineCharFrac: Double = 0.20,
                        maxDupParaCharFrac: Double = 0.20,
                        maxTopGramCharFrac: Seq[Double] = Seq(0.20, 0.18, 0.16),
                        maxDupGramCharFrac: Seq[Double] =
                          Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)): DataFrame = {
    require(maxTopGramCharFrac.size == 3 && maxDupGramCharFrac.size == 6,
      "thresholds are per-n: top for n=2,3,4 and dup for n=5..10")
    val f = udf { text: String => computeRepetition(text) }
    val sigCols = RepetitionRow.fields
    val thresholds: Seq[(String, Double)] =
      Seq(("dup_line_frac", maxDupLineFrac),
        ("dup_para_frac", maxDupParaFrac),
        ("dup_line_char_frac", maxDupLineCharFrac),
        ("dup_para_char_frac", maxDupParaCharFrac)) ++
        (2 to 4).zip(maxTopGramCharFrac).map { case (n, t) =>
          (s"top_${n}gram_char_frac", t) } ++
        (5 to 10).zip(maxDupGramCharFrac).map { case (n, t) =>
          (s"dup_${n}gram_char_frac", t) }
    val withSigs = sigCols.foldLeft(df.withColumn("__rep", f(col(textCol)))) {
      case (d, c) => d.withColumn(c, col("__rep").getField(c))
    }
    withSigs
      .withColumn("rep_keep", thresholds.map { case (c, t) =>
        coalesce(col(c) <= t, lit(true)) }.reduce(_ && _))
      .drop("__rep")
  }

  /** [[repetitionSignals]]' composite filter: rows surviving the Gopher
    * repetition rules, original columns only. */
  def repetitionFilter(df: DataFrame, textCol: String): DataFrame = {
    val cols = df.columns.toIndexedSeq.map(col)
    repetitionSignals(df, textCol).filter(col("rep_keep")).select(cols: _*)
  }

  /** Signals row for [[repetitionSignals]] — None = "no qualifying units". */
  case class RepetitionRow(
      dup_line_frac: Option[Double], dup_line_char_frac: Option[Double],
      dup_para_frac: Option[Double], dup_para_char_frac: Option[Double],
      top_2gram_char_frac: Option[Double], top_3gram_char_frac: Option[Double],
      top_4gram_char_frac: Option[Double],
      dup_5gram_char_frac: Option[Double], dup_6gram_char_frac: Option[Double],
      dup_7gram_char_frac: Option[Double], dup_8gram_char_frac: Option[Double],
      dup_9gram_char_frac: Option[Double], dup_10gram_char_frac: Option[Double])
  object RepetitionRow {
    val fields: Seq[String] =
      Seq("dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac") ++
        (2 to 4).map(n => s"top_${n}gram_char_frac") ++
        (5 to 10).map(n => s"dup_${n}gram_char_frac")
    val empty: RepetitionRow = RepetitionRow(None, None, None, None,
      None, None, None, None, None, None, None, None, None)
  }

  private def cpLen(s: String): Long = s.codePointCount(0, s.length).toLong

  /** One-pass per-doc repetition math; kept deterministic and integer-exact
    * (Long sums, single IEEE division) so a SQL oracle reproduces every
    * double bit-for-bit. */
  private[ext] def computeRepetition(text: String): RepetitionRow = {
    if (text == null) return RepetitionRow.empty
    // (dup_unit_frac, dup_unit_char_frac) over non-empty units
    def unitFracs(units: Array[String]): (Option[Double], Option[Double]) = {
      val xs = units.filter(_.nonEmpty)
      if (xs.isEmpty) (None, None)
      else {
        val counts = xs.groupBy(identity).map { case (u, o) => (u, o.length) }
        val total = xs.length.toLong
        val charTotal = xs.map(cpLen).sum
        val dupChars = counts.iterator
          .filter(_._2 > 1).map { case (u, c) => cpLen(u) * c }.sum
        (Some(1.0 - counts.size.toDouble / total.toDouble),
          Some(dupChars.toDouble / charTotal.toDouble))
      }
    }
    val (dlf, dlcf) = unitFracs(text.split("\n", -1))
    val (dpf, dpcf) = unitFracs(text.split("\n\n", -1))
    val words = graft.functions.ScriptTokens.split(text)
    val tc = cpLen(text)
    // per-n gram counts; key = space-joined gram (exactly what the oracle
    // groups by), len derived once per DISTINCT gram
    def gramCounts(n: Int): Option[collection.mutable.HashMap[String, Int]] = {
      if (words.length < n) None
      else {
        val m = collection.mutable.HashMap.empty[String, Int]
        var i = 0
        while (i <= words.length - n) {
          val g = words.slice(i, i + n).mkString(" ")
          m.update(g, m.getOrElse(g, 0) + 1)
          i += 1
        }
        Some(m)
      }
    }
    def topFrac(n: Int): Option[Double] = gramCounts(n).map { m =>
      val mc = m.valuesIterator.max
      val tcl = m.iterator.collect { case (g, c) if c == mc => cpLen(g) * c }.max
      math.min(1.0, tcl.toDouble / tc.toDouble)
    }
    def dupFrac(n: Int): Option[Double] = gramCounts(n).map { m =>
      val dcl = m.iterator.collect { case (g, c) if c > 1 => cpLen(g) * c }.sum
      math.min(1.0, dcl.toDouble / tc.toDouble)
    }
    RepetitionRow(dlf, dlcf, dpf, dpcf,
      topFrac(2), topFrac(3), topFrac(4),
      dupFrac(5), dupFrac(6), dupFrac(7), dupFrac(8), dupFrac(9), dupFrac(10))
  }

  /** Unicode + control-character text normalization — the cleaning step
    * BEFORE fingerprinting/dedup (two byte-different spellings of the same
    * visible text must dedup together): NFC composition (combining marks
    * fold into precomposed forms, the Unicode-standard canonical form both
    * this engine's Normalizer and SQL engines' nfc_normalize implement
    * identically) followed by stripping C0/DEL control characters except
    * tab/newline/CR (document structure, not noise). NFC rides a per-row
    * UDF (no Catalyst normalizer exists); the strip is a codegen'd
    * regexp_replace. Zero shuffle; null passes through. */
  def normalizeText(text: Column, stripControl: Boolean = true): Column = {
    val nfc = udf { t: String =>
      if (t == null) null
      else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC)
    }
    // strip BEFORE composing: a control byte between a base letter and its
    // combining mark blocks composition, so NFC-first would leave the pair
    // decomposed after the strip — missing exactly the dedup collapse this
    // function exists for, and breaking idempotence
    val cleaned =
      if (stripControl)
        regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
      else text
    nfc(cleaned)
  }

  /** Deflate compression ratio — compressed bytes / UTF-8 bytes (zlib
    * level 6, the curation-standard "zlib ratio" signal: near-random text
    * sits near 1, templated/repetitious text well below; used as a cheap
    * complement to the n-gram repetition rules on corpora where word-level
    * filters miss byte-level structure). Pure per-row UDF, one Deflater
    * per call, zero shuffle; null/empty → null. Not SQL-replicable (no
    * zlib in the oracle engine), so the gate pins deterministic
    * invariants instead: bounds, and duplication strictly improving
    * compressibility. */
  def compressionRatio(text: Column): Column = {
    val f = udf { t: String =>
      if (t == null || t.isEmpty) None
      else {
        val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(6)
        try {
          d.setInput(bytes); d.finish()
          val buf = new Array[Byte](8192)
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          Some(n.toDouble / bytes.length.toDouble)
        } finally d.end()
      }
    }
    f(text)
  }

  /** Character-n-gram language-ID heuristic: scores text against per-
    * language marker-token tables (function words, public knowledge) and
    * emits the best-scoring language or "und". Marker lists stay literal
    * arrays — broadcast-free, codegen'd. */
  def languageId(text: Column): Column = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with"),
      "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
      "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "que"),
      "es" -> Seq("el", "de", "que", "los", "las", "una", "por", "con"),
      "it" -> Seq("il", "di", "che", "per", "una", "sono", "della", "non"),
      "pt" -> Seq("de", "que", "um", "uma", "para", "com", "os", "das"))
    val toks = transform(scriptTokens(text), w => lower(w))
    val scored = markers.map { case (lang, ms) =>
      struct(size(array_intersect(toks, array(ms.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** PII-style redaction for training-data curation: emails, URLs, and
    * phone-like digit runs replaced with stable placeholder tokens. Pure
    * codegen'd regexp_replace chain — scan speed, no UDF. The patterns are
    * deliberately RE2-compatible (no backrefs/lookaround) so the same
    * expressions run under Java regex here and RE2-family engines
    * elsewhere; whitespace is the EXPLICIT class [ \t\n\r\f] rather than
    * \s because the engines disagree on \s membership (Java includes
    * \x0B, and class semantics diverge on non-ASCII whitespace) — with
    * explicit classes the parity holds on any corpus, not just ASCII.
    * Order matters: emails before phones, or a phone-like digit run
    * inside an address would be mangled first. */
  def redact(text: Column, emails: Boolean = true, urls: Boolean = true,
             phones: Boolean = true): Column = {
    var c = text
    if (emails) c = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    if (urls) c = regexp_replace(c, "https?://[^ \\t\\n\\r\\f]+", "<URL>")
    if (phones) c = regexp_replace(c, "\\+?\\d[\\d \\t\\n\\r\\f().-]{7,}\\d", "<PHONE>")
    c
  }

  /** C4-style duplicate-line fraction: 1 − distinct lines / lines. High
    * values flag boilerplate (nav bars, repeated headers) — a standard
    * quality-filter signal. */
  def dupLineRatio(text: Column): Column = {
    val lines = split(text, "\n")
    lit(1.0) - size(array_distinct(lines)).cast("double") /
      size(lines).cast("double")
  }

  /** 64-bit document fingerprint over normalized text (rolling-hash style
    * content signature): farm fingerprint of the whitespace-squeezed,
    * lowercased body. Deterministic; BQ FARM_FINGERPRINT-compatible. */
  def fingerprint(text: Column): Column =
    farmHash64(lower(regexp_replace(text, "\\s+", " ")))

  /** Corpus-frequent n-gram fraction per document: of a doc's DISTINCT
    * character n-grams, the fraction appearing in at least `minDocFreq`
    * documents (itself included). High values flag boilerplate shared
    * across the corpus (the cross-document complement of [[dupLineRatio]];
    * the span-level cousin of suffix-array training-data dedup).
    *
    * Scale shape: documents reduce to hashed distinct shingles at the
    * scan (ShingleHashes), so the explode, the doc-frequency groupBy, and
    * the join back all shuffle 8-byte longs — never text. Returns
    * (idCol, common_frac); docs shorter than n get common_frac null. */
  def commonNgramFraction(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, minDocFreq: Int = 3): DataFrame = {
    require(minDocFreq >= 1, s"minDocFreq must be >= 1, got $minDocFreq")
    // ShingleHashes output is distinct per doc, so count(*) per hash IS
    // the document frequency
    val ex = df.select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__g"))
    val docFreq = ex.groupBy("__g").agg(count(lit(1)).as("__nd"))
    val frac = ex.join(docFreq, "__g")
      .groupBy(idCol)
      .agg(avg(when(col("__nd") >= minDocFreq, 1.0).otherwise(0.0)).as("common_frac"))
    // explode drops docs shorter than n (null shingles): re-attach with null
    df.select(col(idCol)).join(frac, Seq(idCol), "left")
  }

  /** Per-document tf-idf keyword extraction: the `k` highest-scoring
    * terms of each document, `score = tf · idf` with
    * `idf = ln(N / df)` (default) or the LINEAR `N / df` variant
    * (`logIdf = false`) whose score arithmetic is a single IEEE multiply
    * + divide — bit-identical across engines, which is what the
    * `top_keywords` gate drives so DuckDB reproduces the exact ranking
    * (ln is only ulp-accurate across libms; ranks near the k-cutoff
    * could flip under it). Ordering is (score desc, term asc).
    *
    * Scale shape: one explode → per-(doc, term) partial-agg (the shuffle
    * carries counts, not occurrences), a term-keyed document-frequency
    * aggregation joined back on the term key, then the k-bounded
    * [[graft.functions.TopK.ByScore]] per doc — map-side O(k) buffers,
    * never a per-doc window. `minDocFreq` prunes hapax noise before the
    * join. Returns (id, term, rank, score). */
  def topKeywords(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 10, minDocFreq: Int = 2,
                  logIdf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    require(k >= 1, s"top-k keywords needs k >= 1, got $k")
    val tf = df
      .select(col(idCol).as("id"),
        explode(scriptTokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocFreq)
    val nDocs = df.select(countDistinct(col(idCol)).as("__n"))
    val idf =
      if (logIdf) log(col("__n").cast("double") / col("df"))
      else col("__n").cast("double") / col("df")
    val scored = tf.join(docFreq, "term").crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"), (col("tf") * idf).as("score"))
    val agg = udaf(new graft.functions.TopK.ByScore[String](k),
        ExpressionEncoder[(String, Double)]())
      .apply(col("term"), col("score"))
    scored.groupBy("id").agg(agg.as("hits"))
      .select(col("id"), explode(col("hits")).as("h"))
      .select(col("id"), col("h.neighbor_id").as("term"),
        col("h.rank").as("rank"), col("h.cosine_sim").as("score"))
  }

  /** C4-style boilerplate stripping: remove every text segment (split by
    * the literal `delim` — lines, sentences, paragraphs) that occurs in
    * at least `minDocFreq` distinct documents, and rejoin the survivors
    * in order. The REWRITING complement of [[commonNgramFraction]]: nav
    * bars, cookie banners, and repeated headers vanish from every doc at
    * once (C4 removed any three-sentence span repeated across its crawl;
    * this is the segment-granularity form).
    *
    * Scale shape: the corpus never shuffles. Pass 1 reduces each doc to
    * its DISTINCT segment hashes at the scan (count-per-hash IS document
    * frequency), so the only exchange carries 8-byte longs. The frequent
    * set is tiny by construction — at most total-distinct-segments /
    * minDocFreq, in practice the corpus's shared boilerplate — and is
    * collected under a capped guard, sorted, broadcast, and consulted by
    * a binary-search rewrite in pass 2: a stateless map over the corpus
    * (no join, no re-aggregation of text by doc). The rewrite closes
    * over a runtime-collected set, which no codegen'd builtin can hold,
    * so it is a deliberate UDF (the decontamination probe shares the
    * pattern); the frequency pass stays pure Catalyst. Matching is exact-string up to 64-bit
    * farm-fingerprint collisions (the [[fingerprint]] contract). Null
    * text stays null; a doc whose every segment is boilerplate becomes
    * the empty string.
    */
  def stripBoilerplate(df: DataFrame, textCol: String, delim: String,
                       minDocFreq: Int = 3,
                       maxFrequentSegments: Int = 4 << 20): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    require(minDocFreq >= 2, s"minDocFreq must be >= 2, got $minDocFreq")
    val delimRegex = java.util.regex.Pattern.quote(delim)
    val segHashes = array_distinct(
      transform(split(col(textCol), delimRegex), s => farmHash64(s)))
    val freqDf = df
      .select(explode(segHashes).as("__h"))
      .groupBy("__h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocFreq)
      .select("__h")
    // capped collect: boilerplate sets are small by contract; a corpus
    // violating that should fail loudly, not OOM the driver. Streamed
    // into a primitive array (not collect()'d as Row objects) so even
    // the at-cap failure path holds 8 bytes per segment, not a Row.
    val segIt = freqDf.limit(maxFrequentSegments + 1).toLocalIterator()
    val segBuf = new scala.collection.mutable.ArrayBuilder.ofLong
    var nSeg = 0
    while (segIt.hasNext && nSeg <= maxFrequentSegments) {
      segBuf += segIt.next().getLong(0); nSeg += 1
    }
    if (nSeg > maxFrequentSegments)
      throw new IllegalStateException(
        s"stripBoilerplate: > $maxFrequentSegments segments appear in >= " +
          s"$minDocFreq docs; raise minDocFreq or maxFrequentSegments")
    val frequent = segBuf.result()
    if (frequent.isEmpty) return df
    java.util.Arrays.sort(frequent)
    val bc = df.sparkSession.sparkContext.broadcast(frequent)
    val strip = udf { (text: String) =>
      if (text == null) null
      else {
        val set = bc.value
        val kept = text.split(delimRegex, -1).filter { p =>
          // same byte stream as the farmHash64 expression on a string
          val h = com.google.common.hash.Hashing.farmHashFingerprint64()
            .hashString(p, java.nio.charset.StandardCharsets.UTF_8).asLong()
          java.util.Arrays.binarySearch(set, h) < 0
        }
        kept.mkString(delim)
      }
    }
    df.withColumn(textCol, strip(col(textCol)))
  }

  /** C4-proper GLOBAL segment dedup: across the whole corpus, keep only
    * the FIRST occurrence of every distinct text segment (split by the
    * literal `delim`) and rewrite each document with its later-occurrence
    * segments removed, preserving segment order. "First" is the least
    * (id, position) pair under `idCol`'s natural ordering — C4 removed
    * all but one occurrence of any three-sentence span repeated across
    * the crawl; this is the same keep-one rule at segment granularity,
    * where [[stripBoilerplate]] instead removes EVERY occurrence of
    * corpus-frequent segments.
    *
    * Scale shape: document text never shuffles for the dedup decision —
    * segments reduce to (hash, id, pos) at the scan (~20 bytes/segment),
    * one hash-keyed aggregation finds each segment's minimum (id, pos)
    * winner, and only hashes occurring >1 time survive to the loser
    * pass. Per-doc drop-position sets (bounded by each doc's duplicated
    * segments, empty for most docs) join back by id — the one
    * corpus-width shuffle, broadcast by AQE when the duplicate set is
    * small — and the rewrite is a pure Catalyst indexed array filter
    * (no UDF). Matching is exact-string up to 64-bit farm-fingerprint
    * collisions. Null text survives unchanged; a doc whose every segment
    * lost becomes the empty string. A segment repeated WITHIN one doc
    * keeps only its first position. EMPTY segments (trailing/consecutive
    * delimiters) are never dedup candidates — they carry no content, and
    * treating them as corpus-wide duplicates would strip delimiters from
    * documents sharing nothing. */
  def dedupSegmentsKeepFirst(df: DataFrame, idCol: String, textCol: String,
                             delim: String): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    val delimRegex = java.util.regex.Pattern.quote(delim)
    // hash + length are computed INSIDE the array transform so the
    // explode emits (long, int) structs, never segment strings (the
    // string-exploding form measured ~2.5x slower at 2M docs)
    val exploded = df.select(col(idCol).as("__id"),
      posexplode(transform(split(col(textCol), delimRegex),
        s => struct(farmHash64(s).as("h"), length(s).as("len"))))
        .as(Seq("__pos", "__sh")))
      .filter(col("__sh.len") > 0)
      .select(col("__id"), col("__pos"), col("__sh.h").as("__h"))
    val winners = exploded.groupBy("__h")
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
      .select("__h", "__w")
    val drops = exploded.join(winners, Seq("__h"))
      .filter(col("__w.__id") =!= col("__id") || col("__w.__pos") =!= col("__pos"))
      .groupBy("__id").agg(collect_set("__pos").as("__drops"))
    df.join(drops, col(idCol) === col("__id"), "left")
      .withColumn(textCol, when(col("__drops").isNull, col(textCol))
        .otherwise(array_join(
          filter(split(col(textCol), delimRegex),
            (_, i) => !array_contains(col("__drops"), i)), delim)))
      .drop("__id", "__drops")
  }

  /** Benchmark decontamination: flag every corpus document sharing at
    * least one character `n`-gram with a benchmark/eval set — the
    * standard n-gram-overlap decontamination from public LM training
    * recipes (GPT-3 appendix C / PaLM: drop training docs overlapping
    * test sets on ~8-13-token n-grams; `n` here is CHARACTERS, so ~40-65
    * chars approximates those window sizes).
    *
    * Scale shape (the benchmark side is SMALL — that is the premise of
    * the operator): benchmark n-grams reduce to distinct 8-byte hashes
    * (one tiny aggregation), and the corpus-side probe is explode →
    * BROADCAST left-semi join — a narrow scan pass over the corpus with
    * NO corpus shuffle; only the matched doc ids (bounded by the
    * contaminated fraction) reach the distinct's exchange. Returns
    * (idCol, contaminated: boolean) for every corpus row. Exact-match
    * semantics up to 64-bit shingle-hash collisions (same contract as
    * [[commonNgramFraction]]); docs or benchmark rows shorter than `n`
    * contribute no n-grams. */
  def flagContaminated(corpus: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame, benchTextCol: String,
                       n: Int = 50, maxBenchGrams: Int = 4 << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    collectBenchGrams(benchmark, benchTextCol, n, maxBenchGrams) match {
      case Some(probe) =>
        // one narrow corpus scan, NO join and NO shuffle anywhere —
        // column order kept identical to the join form (idCol first)
        val rest = corpus.columns.filterNot(_ == idCol).map(col)
        corpus.withColumn("contaminated", probe(col(textCol)))
          .select(col(idCol) +: rest :+ col("contaminated"): _*)
      case None =>
        val benchGrams = benchmark
          .select(explode(shingleHashes(col(benchTextCol), n)).as("__g")).distinct()
        val hit = corpus
          .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__g"))
          .join(broadcast(benchGrams), Seq("__g"), "left_semi")
          .select(idCol).distinct()
          .withColumn("contaminated", lit(true))
        corpus.join(hit, Seq(idCol), "left")
          .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
    }
  }

  /** Collect + broadcast the distinct benchmark gram hashes as a sorted
    * array and return the per-document membership probe, or None when the
    * benchmark exceeds `maxBenchGrams` distinct grams (callers fall back
    * to the distributed explode + broadcast-semi probe). The probe rolls
    * the window hash across each document (O(len), bit-exact with the
    * [[graft.functions.ShingleHashes]] expression) and tests each against
    * a broadcast open-addressed [[graft.functions.LongHashSet]] (~1-2
    * array reads per window, like the hashed relation the semi join would
    * build) with early exit on the first hit — a per-DOCUMENT closure
    * over a runtime broadcast, which no codegen'd builtin can hold, so
    * like [[stripBoilerplate]]'s rewrite it is a deliberate UDF;
    * everything around it stays pure Catalyst. Replaces exploding one
    * (id, hash) row per corpus CHARACTER through join machinery: the scan
    * does the same hash work but zero row amplification. */
  private def collectBenchGrams(benchmark: DataFrame, benchTextCol: String,
      n: Int, maxBenchGrams: Int): Option[Column => Column] = {
    import benchmark.sparkSession.implicits._
    val grams = benchmark
      .select(explode(shingleHashes(col(benchTextCol), n)).as("__g")).distinct()
      // count + collect are separate actions that would otherwise each
      // re-run the explode + distinct (actions do NOT share shuffle
      // stages across jobs of different plans) — pin the tiny gram set
      // for the pair and release it before returning
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // cap check BEFORE materializing on the driver (one cheap parallel
      // reduce pass; no single-partition limit funnel)
      if (grams.count() > maxBenchGrams) return None
      val set = graft.functions.LongHashSet(grams.as[Long].collect())
      val bc = benchmark.sparkSession.sparkContext.broadcast(set)
      val probe = udf { (text: String) =>
        // [[graft.GraftFunctions.shingleHashes]] NORMALIZES before
        // hashing (regexp_replace(\s+ -> ' ') then lower); the probe
        // must hash the same bytes or uppercase/multi-whitespace
        // contamination silently misses. UTF8String.toLowerCase is
        // exactly Spark's `lower`, and replaceAll here is the same
        // java.util.regex engine as Spark's regexp_replace.
        if (text == null) false
        else {
          val norm = org.apache.spark.unsafe.types.UTF8String
            .fromString(text.replaceAll("\\s+", " ")).toLowerCase.toString
          graft.functions.ShingleHashes.anyWindow(norm, n, 0L)(bc.value.contains)
        }
      }
      Some(probe(_))
    } finally grams.unpersist()
  }

  /** Stateless per-row contamination flag from a PRE-COLLECTED benchmark
    * gram-hash array: true when the text shares any `n`-gram with the
    * benchmark. Being a pure column expression (no join, no distinct, no
    * state) it lifts unchanged onto a Structured-Streaming corpus, where
    * [[flagContaminated]]'s distinct + anti-join pipeline cannot run.
    * The hash array ships once per plan as a literal; suitable while the
    * benchmark gram set fits driver memory (its premise) — for very
    * large sets prefer the batch join form. */
  def contaminationFlag(text: Column, benchGramHashes: Array[Long],
                        n: Int = 50): Column =
    if (benchGramHashes.isEmpty) lit(false)
    else arrays_overlap(shingleHashes(text, n),
      lit(benchGramHashes)) <=> lit(true)

  /** Collect the distinct benchmark gram hashes [[contaminationFlag]]
    * consumes (one tiny job over the small benchmark relation). */
  def benchmarkGramHashes(benchmark: DataFrame, benchTextCol: String,
                          n: Int = 50): Array[Long] = {
    import benchmark.sparkSession.implicits._
    benchmark.select(explode(shingleHashes(col(benchTextCol), n)).as("g"))
      .distinct().as[Long].collect()
  }

  /** Keep only corpus documents with NO `n`-gram overlap against the
    * benchmark set (the filtering form of [[flagContaminated]]): with the
    * benchmark grams under `maxBenchGrams` (the normal case) this is ONE
    * narrow filter pass over the corpus — no join, no shuffle, and the
    * corpus plan is referenced once, so expensive derived corpora need no
    * caller-side pinning. Past the cap it falls back to the distributed
    * probe + anti-join (which references `corpus` twice — pin derived
    * relations there; AQE broadcasts the usually-tiny contaminated-id
    * side at runtime). */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 50, maxBenchGrams: Int = 4 << 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    collectBenchGrams(benchmark, benchTextCol, n, maxBenchGrams) match {
      case Some(probe) => corpus.filter(!probe(col(textCol)))
      case None =>
        val benchGrams = benchmark
          .select(explode(shingleHashes(col(benchTextCol), n)).as("__g")).distinct()
        val hit = corpus
          .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("__g"))
          .join(broadcast(benchGrams), Seq("__g"), "left_semi")
          .select(idCol).distinct()
        corpus.join(hit, Seq(idCol), "left_anti")
    }
  }

  /** Per-BENCHMARK-row contamination audit (the reverse direction of
    * [[flagContaminated]]): for every benchmark/eval row, how many
    * corpus documents share at least one `n`-gram with it — the report
    * that tells you WHICH eval items leak and how badly, before dropping
    * anything. Scale shape: benchmark grams reduce to distinct (gram,
    * bench-id) pairs and broadcast; the corpus-side probe is the same
    * narrow explode + broadcast join with NO corpus shuffle — only
    * (bench-id, doc-id) hit pairs reach the counting exchange, bounded
    * by the contamination volume. Benchmark rows with no hits report 0. */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
                          benchmark: DataFrame, benchIdCol: String,
                          benchTextCol: String, n: Int = 50): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val benchGrams = benchmark
      .select(col(benchIdCol).as("__bid"),
        explode(shingleHashes(col(benchTextCol), n)).as("__g"))
      .distinct()
    val hits = corpus
      .select(col(idCol).as("__did"),
        explode(shingleHashes(col(textCol), n)).as("__g"))
      .join(broadcast(benchGrams), Seq("__g"))
      .select("__bid", "__did").distinct()
      .groupBy("__bid").agg(count(lit(1)).as("n_contaminated_docs"))
    benchmark.select(col(benchIdCol).as("__bid"))
      .join(hits, Seq("__bid"), "left")
      .select(col("__bid").as(benchIdCol),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"))
  }

  /** FUZZY contamination flag: marks corpus documents whose whole-text
    * shingle-Jaccard against SOME benchmark/eval row reaches `threshold`
    * — the near-duplicate complement of [[flagContaminated]]'s exact
    * `n`-gram probe. Exact probes need one unbroken 50-gram; an eval item
    * that leaked with light edits (tokens swapped, words inserted every
    * couple of lines — common in scraped re-posts) shares NO long exact
    * gram yet keeps Jaccard ≈ 1 − edits/shingles, and this catches it.
    * Returns the corpus plus `contaminated_fuzzy: boolean`.
    *
    * Semantics are DOCUMENT-level (whole-text similarity, the right
    * contract when eval items are documents). For containment-style
    * leakage — a benchmark item embedded inside a much larger page, where
    * doc-level Jaccard is diluted toward 0 — use the exact substring
    * probes ([[flagContaminated]] / [[contaminationReport]]); the two are
    * complements, and curation practice runs both.
    *
    * Scale shape is [[Dedup.minhashNewAgainst]] with the (small) benchmark
    * as the existing side: the benchmark's band signatures reduce to a
    * broadcast Bloom filter probed inside the corpus scan, so a corpus
    * document sharing no band — the typical clean document — never
    * shuffles at all; survivors verify with the exact sorted-shingle
    * merge (false positives from banding cannot flag a clean doc). The
    * corpus is never self-joined and never re-scanned. */
  def flagContaminatedFuzzy(corpus: DataFrame, idCol: String, textCol: String,
                            benchmark: DataFrame, benchTextCol: String,
                            threshold: Double = 0.8,
                            numHashes: Int = 64, bands: Int = 16,
                            shingleLen: Int = 5, seed: Int = 0,
                            maxBucketSize: Int = 1000): DataFrame = {
    val hits = fuzzyHits(corpus, idCol, textCol, benchmark, benchTextCol,
        threshold, numHashes, bands, shingleLen, seed, maxBucketSize)
      .withColumn("contaminated_fuzzy", lit(true))
    val rest = corpus.columns.filterNot(_ == idCol).map(col)
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("contaminated_fuzzy",
        coalesce(col("contaminated_fuzzy"), lit(false)))
      .select(col(idCol) +: rest :+ col("contaminated_fuzzy"): _*)
  }

  /** Keep only corpus documents that are NOT fuzzy-contaminated (the
    * filtering form of [[flagContaminatedFuzzy]], mirroring
    * [[decontaminate]] for the exact probe): one anti-join against the
    * matched-id set, which is bounded by the contaminated volume. */
  def decontaminateFuzzy(corpus: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchTextCol: String,
                         threshold: Double = 0.8,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleLen: Int = 5, seed: Int = 0,
                         maxBucketSize: Int = 1000): DataFrame = {
    val hits = fuzzyHits(corpus, idCol, textCol, benchmark, benchTextCol,
      threshold, numHashes, bands, shingleLen, seed, maxBucketSize)
    corpus.join(hits, Seq(idCol), "left_anti")
  }

  /** Per-BENCHMARK-row FUZZY contamination audit (the near-dup analog of
    * [[contaminationReport]]): for every benchmark/eval row, how many
    * corpus documents reach `threshold` whole-text shingle-Jaccard
    * against it — which eval items leak through light edits, and how
    * badly, before anything is dropped. Benchmark rows with no match
    * report 0. Same scale shape as [[flagContaminatedFuzzy]]; only the
    * matched (bench-id, doc-id) pairs reach the counting exchange. */
  def contaminationReportFuzzy(corpus: DataFrame, idCol: String,
                               textCol: String, benchmark: DataFrame,
                               benchIdCol: String, benchTextCol: String,
                               threshold: Double = 0.8,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleLen: Int = 5, seed: Int = 0,
                               maxBucketSize: Int = 1000): DataFrame = {
    val bench = benchmark.select(col(benchIdCol).as("__graft_bid"),
      col(benchTextCol).as("__graft_btext"))
    val hits = Dedup.minhashNewAgainst(bench, corpus
          .select(col(idCol).as("__graft_bid"),
            col(textCol).as("__graft_btext")),
        "__graft_bid", "__graft_btext",
        numHashes, bands, shingleLen, threshold, seed, maxBucketSize)
      .select(col("id_old").as("__bid"), col("id_new").as("__did")).distinct()
      .groupBy("__bid").agg(count(lit(1)).as("n_contaminated_docs"))
    benchmark.select(col(benchIdCol).as("__bid"))
      .join(hits, Seq("__bid"), "left")
      .select(col("__bid").as(benchIdCol),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"))
  }

  /** Shared matched-id relation of the fuzzy pair: distinct corpus ids
    * whose Jaccard vs some benchmark row reaches the threshold. The
    * benchmark side gets synthetic ids (only distinctness matters — the
    * caller never sees them). */
  private def fuzzyHits(corpus: DataFrame, idCol: String, textCol: String,
                        benchmark: DataFrame, benchTextCol: String,
                        threshold: Double, numHashes: Int, bands: Int,
                        shingleLen: Int, seed: Int,
                        maxBucketSize: Int): DataFrame = {
    val bench = benchmark.select(
      monotonically_increasing_id().as(idCol),
      col(benchTextCol).as(textCol))
    Dedup.minhashNewAgainst(bench, corpus, idCol, textCol,
        numHashes, bands, shingleLen, threshold, seed, maxBucketSize)
      .select(col("id_new").as(idCol)).distinct()
  }

  /** Overlapping fixed-size chunking (the RAG / long-context prep step):
    * split each document's text into character windows of `size` whose
    * starts step by `size - overlap`, so consecutive chunks share
    * `overlap` characters. The final chunk is whatever remains (>= 1
    * char, <= size); a doc of <= `size` chars yields exactly one chunk.
    * Null or empty text yields no rows.
    *
    * Output: one row per chunk — the id column, `chunk_idx` (0-based
    * long), `chunk_start` (0-based char offset), `chunk` (the text).
    *
    * Scale shape: a pure per-row generator — `sequence` + `substring`
    * under `explode`, all codegen'd built-ins, zero shuffle, zero state;
    * runs at scan speed and lifts unchanged onto a stream. Character
    * windows, not token windows, by design: chunk-for-embedding
    * pipelines measure budgets in chars ~ bytes, and token-exact spans
    * are [[graft.ext.Pack.packSequences]]'s job. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int): DataFrame = {
    require(size > 0, s"size must be positive, got $size")
    require(overlap >= 0 && overlap < size,
      s"overlap must be in [0, size), got $overlap (size $size)")
    val step = size - overlap
    val t = col(textCol)
    val n = length(t)
    // chunks start at 0, step, 2*step, ...; the last start is the
    // smallest i*step with i*step + size >= n — integer math only so
    // the oracle replicates bit-for-bit
    val lastIdx = when(n <= size, lit(0L))
      .otherwise(floor((n - size + step - 1) / step).cast("long"))
    df.filter(t.isNotNull && n > 0)
      .select(col(idCol), explode(sequence(lit(0L), lastIdx)).as("chunk_idx"),
        t.as("__t"))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * step).as("chunk_start"),
        expr(s"substring(__t, chunk_idx * $step + 1, $size)").as("chunk"))
  }

  /** Corpus summary card (the "dataset datasheet" numbers), per group
    * when `groupCols` is non-empty (e.g. per language/source): doc and
    * empty-doc counts, char/token mass, mean tokens per doc, distinct
    * non-null texts (by 64-bit farm fingerprint — count_distinct over
    * 8-byte hashes, never strings) and the implied exact-duplicate
    * fraction. ONE aggregation pass over the corpus; only partial
    * aggregates shuffle. At extreme cardinalities swap the exact
    * distinct for `approx_count_distinct` caller-side — the exact form
    * is the oracle-checkable default. Null texts count in `n_docs` and
    * `n_empty` but are excluded from the distinct/duplicate math (SQL
    * COUNT(DISTINCT) semantics). */
  def corpusReport(df: DataFrame, textCol: String,
                   groupCols: Seq[String] = Nil): DataFrame = {
    val text = col(textCol)
    val toks = tokenCount(text)
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(when(text.isNull || length(text) === 0, 1L).otherwise(0L)).as("n_empty"),
      sum(length(text).cast("long")).as("n_chars"),
      sum(toks.cast("long")).as("n_tokens"),
      round(avg(toks.cast("double")), 6).as("mean_tokens"),
      countDistinct(when(text.isNotNull, farmHash64(text))).as("n_distinct"),
      round(lit(1.0) - countDistinct(when(text.isNotNull, farmHash64(text)))
        .cast("double") / count(text), 6).as("dup_frac"))
    val g = if (groupCols.isEmpty) df.groupBy() else df.groupBy(groupCols.map(col): _*)
    g.agg(aggs.head, aggs.tail: _*)
  }
}
