package graft.cli

import graft.core.Pin
import graft.diffy.{BigDiffy, DiffOptions}
import graft.sampling.{BigSampler, DirectSampler}
import graft.sources.{AvroIO, GraftIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI front-end multiplexing the three reference commands
  * (ratatool-cli/.../Ratatool.scala:25-72):
  *
  * {{{
  * graft bigDiffy   --lhs=<path> --rhs=<path> --key=<k1,k2> --output=<dir>
  *                  [--input-mode=parquet|avro|json] [--ignore-fields=a,b]
  *                  [--unordered=f1,f2] [--unordered-keys=arr:subfield,...]
  *                  [--ignore-nan] [--row-restriction=<sql predicate>]
  * graft bigSampler --input=<path> --output=<dir> --sample=<f in (0,1]>
  *                  [--fields=k1,k2] [--seed=<int>] [--hash-algorithm=farm|murmur]
  *                  [--byte-encoding=raw|hex|base64]
  *                  [--distribution=stratified|uniform] [--distribution-fields=g1]
  *                  [--exact] [--input-mode=...] [--output-mode=...]
  *                  [--partition-by=c1,c2] [--row-restriction=<sql predicate>]
  * graft directSampler --input=<path> --output=<dir> -n=<rows>
  *                  [--mode=head|reservoir] [--order-by=c1,c2] [--seed=<long>]
  * graft corpusReport --input=<path> --output=<dir> [--text-col=text]
  *                  [--group-by=c1,c2] [--input-mode=...] [--output-mode=...]
  *                  [--row-restriction=<sql predicate>]      (engine extension)
  * }}}
  *
  * Flag names mirror the reference's usage strings (BigSampler.scala:98-132,
  * BigDiffy.scala:581-616) in kebab case. Every command runs through
  * [[run]], which skips it when its outputs are already complete (the
  * S14 short circuit of the reference's samplers) and otherwise runs it
  * in one [[graft.core.Pin.scope]], so a long-lived session keeps none
  * of a command's pins once it returns.
  */
object Graft {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    try run(args.toIndexedSeq, spark)
    finally spark.stop()
  }

  /** Parse `--k=v` / `--flag` / `-n=v` style args after the command word. */
  private[cli] def parseFlags(args: Seq[String]): Map[String, String] =
    args.map { a =>
      val s = a.dropWhile(_ == '-')
      s.indexOf('=') match {
        case -1 => s -> "true"
        case i  => s.take(i) -> s.drop(i + 1)
      }
    }.toMap

  private def csv(v: Option[String]): Seq[String] =
    v.map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

  /** Run one command. Each command names its completion witnesses: the
    * outputs whose `_SUCCESS` markers mean a previous run completed it.
    * When it has some and all exist the command is skipped before any
    * Spark work; otherwise it runs inside one [[graft.core.Pin.scope]],
    * which releases its pins when it returns or throws. */
  def run(args: Seq[String], spark: SparkSession): Unit = {
    val f = parseFlags(args.drop(1))
    def output = Seq(required(f, "output"))
    val (witnesses, command): (Seq[String], (Map[String, String], SparkSession) => Unit) =
      args.headOption match {
        // saveStats writes global LAST, so its _SUCCESS witnesses the whole
        // output; fields/_SUCCESS is also required because an older binary
        // wrote global FIRST, and (global && fields) is complete under both
        // write orders
        case Some("bigDiffy")      =>
          (output.flatMap(o => Seq(s"$o/global", s"$o/fields")), bigDiffy)
        case Some("bigSampler")    => (output, bigSampler)
        case Some("directSampler") => (output, directSampler)
        case Some("corpusReport")  => (output, corpusReport)
        case Some("dedupReport")   => (output, dedupReportCmd)
        case Some("gopherFilter")  => (output, gopherFilter)
        case Some("semDedup")      => (output, semDedup)
        case Some("dsirScore")     => (output, dsirScore)
        case Some("trainOrder")    => (output, trainOrder)
        case Some("heavyWords")    => (output, heavyWords)
        case Some("bpeTokenize")   => (output ++ f.get("merges-output"), bpeTokenize)
        case Some("clean")         => (output, clean)
        case Some("convert")       => (output, convert)
        case Some("profile")       => (output, profileCmd)
        case Some("compact")       => (output, compactCmd)
        case Some("cluster")       => (output, clusterCmd)
        // only a build creates its output; an append's whole point is
        // that the target exists, and the admin modes act on it in place
        case Some("index")         =>
          val inPlace = f.contains("drop-batch") || Seq("describe", "unlock",
            "compact", "retrain", "append").exists(k => f.get(k).contains("true"))
          (if (inPlace) Nil else output, indexCmd)
        case Some("search")        => (output, searchCmd)
        case Some("pipeline")      =>
          val recipe = required(f, "recipe")
          (Seq(Pipeline.output(recipe, f)), (f, s) => Pipeline.run(recipe, f, s))
        case other =>
          throw new IllegalArgumentException(
            "usage: graft <bigDiffy|bigSampler|directSampler|corpusReport|" +
              "dedupReport|gopherFilter|semDedup|dsirScore|trainOrder|" +
              "heavyWords|bpeTokenize|clean|convert|profile|compact|cluster|" +
              s"index|search|pipeline> [flags]; got $other")
      }
    if (witnesses.nonEmpty && witnesses.forall(GraftIO.outputExists))
      System.err.println(s"[graft] output ${witnesses.mkString(", ")} already complete, skipping")
    else Pin.scope(spark)(command(f, spark))
  }

  /** Engine extension: one-pass per-column dataset profile
    * ([[graft.ext.Profile.profile]]) written as a small table — the
    * pre-flight (and post-stage) data-quality snapshot.
    *
    * {{{
    * graft profile --input=<path> --output=<dir>
    *               [--input-mode=parquet|avro|json|csv] [--columns=c1,c2]
    *               [--row-restriction=<sql predicate>]
    * }}} */
  private def profileCmd(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val prof = graft.ext.Profile.profile(df, csv(f.get("columns")))
    write(prof.coalesce(1), required(f, "output"), f.getOrElse("output-mode", "parquet"))
  }

  /** Engine extension: compact (or split) a parquet layout to
    * target-sized files ([[graft.ext.Layout.compactTo]]).
    *
    * {{{
    * graft compact --input=<dir> --output=<dir> --target-bytes=<n>
    *               [--preserve-order]
    * }}} */
  private def compactCmd(f: Map[String, String], spark: SparkSession): Unit = {
    val n = graft.ext.Layout.compactTo(spark, required(f, "input"), required(f, "output"),
      targetBytes = required(f, "target-bytes").toLong,
      preserveOrder = f.get("preserve-order").contains("true"))
    System.err.println(s"[graft] compacted to $n files")
  }

  /** Engine extension: k-means topic clustering over an embedding column
    * ([[graft.ext.Similarity.clusterAssign]]) — writes (id, cluster)
    * hive-partitioned by cluster so downstream per-topic jobs prune at
    * the scan.
    *
    * {{{
    * graft cluster --input=<path> --output=<dir> --k=<n>
    *               [--id-col=vec_id] [--vec-col=embedding] [--seed=<long>]
    *               [--input-mode=parquet|avro|json] [--row-restriction=<pred>]
    * }}} */
  private def clusterCmd(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val assigned = graft.ext.Similarity.clusterAssign(df,
      f.getOrElse("id-col", "vec_id"), f.getOrElse("vec-col", "embedding"),
      k = required(f, "k").toInt,
      seed = f.get("seed").map(_.toLong).getOrElse(42L))
    // a zero-row partitionBy write emits no schema-bearing file and the
    // output would fail later schema inference (same guard as the
    // persisted indexes): degrade to an unpartitioned empty write
    write(assigned, required(f, "output"), "parquet",
      if (assigned.isEmpty) Nil else Seq("cluster"))
  }

  /** Engine extension: build or grow a persisted index artifact — BM25
    * term-bucketed postings ([[graft.ext.Retrieval.buildTextIndex]]), an
    * IVF embedding index ([[graft.ext.Similarity.buildIvfIndex]]), its
    * PQ-compressed form ([[graft.ext.Similarity.buildIvfPqIndex]]), or
    * the incremental-dedup index ([[graft.ext.DedupIndex.build]]).
    * Build once, serve many query batches with `graft search`; `--append`
    * grows an existing artifact with the batch (parameters/quantizers
    * come from the artifact, never from flags); `--compact` rewrites an
    * artifact's accumulated per-append file sets in place (no `--input`)
    * — and for a dedup index also drops double-appended rows and
    * consolidates the per-batch Bloom segments.
    *
    * {{{
    * graft index --input=<path> --output=<dir> --type=text|ivf|ivfpq|dedup
    *             [--append | --compact | --retrain | --drop-batch=<id>
    *              | --describe | --unlock]
    *             [--id-col=doc_id] [--text-col=text] [--buckets=64]    (text)
    *             [--id-col=vec_id] [--vec-col=embedding] [--nlist=16]  (ivf*)
    *             [--m=8] [--codebook-size=256]                        (ivfpq)
    *             [--num-hashes=64] [--bands=16] [--shingle-len=5]     (dedup)
    *             [--batch-id=<stable id>]   (appends: idempotent retry key)
    *             [--input-mode=...] [--row-restriction=<pred>]
    * }}} */
  private def indexCmd(f: Map[String, String], spark: SparkSession): Unit = {
    val output = required(f, "output")
    if (f.get("describe").contains("true")) {
      // per-(relation, batch) census: files, bytes, exact rows
      graft.ext.IndexAdmin.describeIndex(spark, output).show(1000, false)
      graft.ext.IndexAdmin.describeLease(spark, output).foreach {
        case (payload, age) => System.err.println(
          s"[graft] writer lease: '$payload' (${age / 1000}s old)")
      }
      return
    }
    // operator override for a KNOWN-dead writer's lease (the automatic
    // path is the 15-min staleness takeover; --describe names the holder)
    if (f.get("unlock").contains("true")) {
      graft.ext.IndexAdmin.forceUnlock(spark, output)
      return
    }
    f.get("drop-batch").foreach { id =>
      required(f, "type") match {
        case "text"          => graft.ext.Retrieval.dropTextBatch(spark, output, id)
        case "ivf" | "ivfpq" => graft.ext.Similarity.dropIndexBatch(spark, output, id)
        case "dedup"         => graft.ext.DedupIndex.dropBatch(spark, output, id)
        case t => throw new IllegalArgumentException(
          s"--type must be text, ivf, ivfpq or dedup, got $t")
      }
      System.err.println(s"[graft] dropped batch $id from ${f("type")} index at $output")
      return
    }
    if (f.get("compact").contains("true")) {
      required(f, "type") match {
        case "text"          => graft.ext.Retrieval.compactTextIndex(spark, output)
        case "ivf" | "ivfpq" => graft.ext.Similarity.compactIvfIndex(spark, output)
        case "dedup"         => graft.ext.DedupIndex.compact(spark, output); ()
        case t => throw new IllegalArgumentException(
          s"--type must be text, ivf, ivfpq or dedup, got $t")
      }
      System.err.println(s"[graft] compacted ${f("type")} index at $output")
      return
    }
    // the drift remediation IndexAdmin's probe points at: ivf retrains
    // from the artifact's own postings (no --input), ivfpq needs the
    // caller-named vector source (PQ codes are not invertible)
    if (f.get("retrain").contains("true")) {
      val cells = required(f, "type") match {
        case "ivf" =>
          graft.ext.Similarity.retrainIvfIndex(spark, output,
            nlist = f.get("nlist").map(_.toInt).getOrElse(16),
            maxIter = f.get("max-iter").map(_.toInt).getOrElse(10))
        case "ivfpq" =>
          val vecs = restrict(read(spark, required(f, "input"),
            f.getOrElse("input-mode", "parquet")), f)
          graft.ext.Similarity.retrainIvfPqIndex(vecs,
            f.getOrElse("id-col", "vec_id"),
            f.getOrElse("vec-col", "embedding"), output,
            nlist = f.get("nlist").map(_.toInt).getOrElse(16),
            m = f.get("m").map(_.toInt).getOrElse(8),
            codebookSize = f.get("codebook-size").map(_.toInt).getOrElse(256),
            maxIter = f.get("max-iter").map(_.toInt).getOrElse(10))
        case t => throw new IllegalArgumentException(
          s"--retrain applies to ivf or ivfpq indexes, got type $t")
      }
      System.err.println(s"[graft] retrained ${f("type")} index at $output " +
        s"($cells cells)")
      return
    }
    val append = f.get("append").contains("true")
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val idCol = f.getOrElse("id-col",
      if (Set("ivf", "ivfpq")(f.getOrElse("type", ""))) "vec_id" else "doc_id")
    required(f, "type") match {
      case "text" =>
        val textCol = f.getOrElse("text-col", "text")
        val n =
          if (append) graft.ext.Retrieval.appendTextIndex(df, idCol, textCol,
            output, batchId = f.get("batch-id"))
          else graft.ext.Retrieval.buildTextIndex(df, idCol, textCol, output,
            buckets = f.get("buckets").map(_.toInt).getOrElse(64))
        System.err.println(s"[graft] text index ${if (append) "+" else ""}$n docs at $output")
      case "ivf" =>
        val vecCol = f.getOrElse("vec-col", "embedding")
        if (append) {
          val n = graft.ext.Similarity.appendIvfIndex(df, idCol, vecCol,
            output, batchId = f.get("batch-id"))
          System.err.println(s"[graft] ivf index +$n vectors at $output")
        } else {
          val n = graft.ext.Similarity.buildIvfIndex(df, idCol, vecCol, output,
            nlist = f.get("nlist").map(_.toInt).getOrElse(16))
          System.err.println(s"[graft] ivf index with $n cells at $output")
        }
      case "ivfpq" =>
        val vecCol = f.getOrElse("vec-col", "embedding")
        if (append) {
          val n = graft.ext.Similarity.appendIvfPqIndex(df, idCol, vecCol,
            output, batchId = f.get("batch-id"))
          System.err.println(s"[graft] ivfpq index +$n vectors at $output")
        } else {
          val n = graft.ext.Similarity.buildIvfPqIndex(df, idCol, vecCol, output,
            nlist = f.get("nlist").map(_.toInt).getOrElse(16),
            m = f.get("m").map(_.toInt).getOrElse(8),
            codebookSize = f.get("codebook-size").map(_.toInt).getOrElse(256))
          System.err.println(s"[graft] ivfpq index with $n cells at $output")
        }
      case "dedup" =>
        val textCol = f.getOrElse("text-col", "text")
        val n =
          // --batch-id makes the append idempotent (a retry overwrites
          // its own batch partition instead of double-writing)
          if (append) graft.ext.DedupIndex.append(df, idCol, textCol, output,
            batchId = f.get("batch-id"))
          else graft.ext.DedupIndex.build(df, idCol, textCol, output,
            numHashes = f.get("num-hashes").map(_.toInt).getOrElse(64),
            bands = f.get("bands").map(_.toInt).getOrElse(16),
            shingleLen = f.get("shingle-len").map(_.toInt).getOrElse(5))
        System.err.println(s"[graft] dedup index ${if (append) "+" else ""}$n docs at $output")
      case t => throw new IllegalArgumentException(
        s"--type must be text, ivf, ivfpq or dedup, got $t")
    }
  }

  /** Engine extension: query a `graft index` artifact. Text mode takes
    * literal queries (`--query=...`, repeatable via `;;` separator) and
    * returns BM25 top-k; ivf mode reads query vectors from `--queries`
    * and returns cosine top-k.
    *
    * {{{
    * graft search --index=<dir> --output=<dir> --type=text --query="a b;;c d"
    *              [--k=10]          (bucket count comes from the index)
    * graft search --index=<dir> --output=<dir> --type=ivf --queries=<path>
    *              [--id-col=vec_id] [--vec-col=embedding] [--k=10] [--nprobe=4]
    * graft search --index=<dir> --output=<dir> --type=ivfpq --queries=<path>
    *              [--id-col] [--vec-col] [--k] [--nprobe] [--rerank-factor=4]
    *              [--rerank-input=<vector corpus path>]  (exact re-rank)
    * graft search --index=<dedupIdxDir> --output=<dir> --type=dedup
    *              --queries=<incoming batch path> [--mode=near|exact]
    *              [--id-col=doc_id] [--text-col=text] [--threshold=0.8]
    *              (near: (id_new, id_old, jaccard) pairs; exact: the
    *               batch's novel rows)
    * graft search --index=<textIdxDir> --vec-index=<ivfIdxDir> --type=hybrid
    *              --output=<dir> --queries=<path with id+text+vector cols>
    *              [--id-col=qid] [--text-col=qtext] [--vec-col=qvec]
    *              [--k=10] [--nprobe=4] [--rrf-k=60]
    * }}} */
  private def searchCmd(f: Map[String, String], spark: SparkSession): Unit = {
    import spark.implicits._
    val index = required(f, "index")
    val result = required(f, "type") match {
      case "text" =>
        val qs = required(f, "query").split(";;").toSeq
          .map(_.trim).filter(_.nonEmpty).zipWithIndex
          .map { case (q, i) => (i.toLong, q) }
        graft.ext.Retrieval.searchTextIndex(spark, index,
          qs.toDF("qid", "qtext"), "qid", "qtext",
          k = f.get("k").map(_.toInt).getOrElse(10))
      case "ivf" =>
        val q = read(spark, required(f, "queries"),
          f.getOrElse("input-mode", "parquet"))
        graft.ext.Similarity.searchIvfIndex(spark, index, q,
          f.getOrElse("id-col", "vec_id"), f.getOrElse("vec-col", "embedding"),
          k = f.get("k").map(_.toInt).getOrElse(10),
          nprobe = f.get("nprobe").map(_.toInt).getOrElse(4))
      case "ivfpq" =>
        val q = read(spark, required(f, "queries"),
          f.getOrElse("input-mode", "parquet"))
        graft.ext.Similarity.searchIvfPqIndex(spark, index, q,
          f.getOrElse("id-col", "vec_id"), f.getOrElse("vec-col", "embedding"),
          k = f.get("k").map(_.toInt).getOrElse(10),
          nprobe = f.get("nprobe").map(_.toInt).getOrElse(4),
          rerankFactor = f.get("rerank-factor").map(_.toInt).getOrElse(4),
          rerank = f.get("rerank-input").map(p =>
            read(spark, p, f.getOrElse("input-mode", "parquet"))))
      case "dedup" =>
        val incoming = read(spark, required(f, "queries"),
          f.getOrElse("input-mode", "parquet"))
        val textCol = f.getOrElse("text-col", "text")
        f.getOrElse("mode", "near") match {
          case "near" =>
            graft.ext.DedupIndex.minhashNewAgainst(spark, index, incoming,
              f.getOrElse("id-col", "doc_id"), textCol,
              threshold = f.get("threshold").map(_.toDouble).getOrElse(0.8))
          case "exact" =>
            graft.ext.DedupIndex.newAgainst(spark, index, incoming, textCol)
          case m => throw new IllegalArgumentException(
            s"--mode must be near or exact, got $m")
        }
      case "hybrid" =>
        // both legs served from persisted artifacts; rank-space fusion.
        // --vec-index-type=ivfpq serves the vector leg from compressed
        // postings (ADC ranks; add --rerank-input for exact re-scoring)
        val q = read(spark, required(f, "queries"),
          f.getOrElse("input-mode", "parquet"))
        graft.ext.Retrieval.hybridSearchIndexes(spark, index,
          required(f, "vec-index"), q,
          f.getOrElse("id-col", "qid"), f.getOrElse("text-col", "qtext"),
          f.getOrElse("vec-col", "qvec"),
          k = f.get("k").map(_.toInt).getOrElse(10),
          kRrf = f.get("rrf-k").map(_.toInt).getOrElse(60),
          nprobe = f.get("nprobe").map(_.toInt).getOrElse(4),
          vecIndexType = f.getOrElse("vec-index-type", "ivf"),
          rerank = f.get("rerank-input").map(p =>
            read(spark, p, f.getOrElse("input-mode", "parquet"))),
          rerankFactor = f.get("rerank-factor").map(_.toInt).getOrElse(20),
          rerankIdCol = f.get("rerank-id-col"),
          rerankVecCol = f.get("rerank-vec-col"))
      case t => throw new IllegalArgumentException(
        s"--type must be text, ivf, ivfpq, dedup or hybrid, got $t")
    }
    write(result.coalesce(1), required(f, "output"), f.getOrElse("output-mode", "parquet"))
  }

  /** Format conversion — the reference CLI's core errand (ratatool's
    * Avro/BigQuery conversion tooling, re-expressed over this engine's IO
    * modes): read any supported format, optionally restrict/project, write
    * any other, with directory partitioning.
    *
    * {{{
    * graft convert --input=<path> --output=<dir>
    *               [--input-mode=parquet|orc|avro|json|csv]
    *               [--output-mode=parquet|orc|avro|json|csv]
    *               [--columns=c1,c2] [--partition-by=c1,c2]
    *               [--row-restriction=<sql predicate>]
    * }}} */
  private def convert(f: Map[String, String], spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val projected = csv(f.get("columns")) match {
      case Nil  => df
      case cols => df.select(cols.map(col): _*)
    }
    write(projected, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: text cleanup ([[graft.ext.TextAnalysis]]) as a
    * one-shot job — NFC + control-strip normalization, optional PII-style
    * redaction. The pass you run BEFORE fingerprint/dedup so byte-variant
    * spellings collapse.
    *
    * {{{
    * graft clean --input=<path> --output=<dir> [--text-col=text]
    *             [--redact] [--keep-control]
    *             [--input-mode=...] [--output-mode=...] [--row-restriction=<pred>]
    * }}} */
  private def clean(f: Map[String, String], spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val textCol = f.getOrElse("text-col", "text")
    var cleaned = graft.ext.TextAnalysis.normalizeText(col(textCol),
      stripControl = !f.contains("keep-control"))
    if (f.contains("redact"))
      cleaned = graft.ext.TextAnalysis.redact(cleaned)
    write(df.withColumn(textCol, cleaned), out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: exact frequent items ([[graft.ext.Frequent]]) as a
    * one-shot job — corpus vocabulary analysis, stopword/boilerplate-token
    * discovery.
    *
    * {{{
    * graft heavyWords --input=<path> --output=<dir> [--text-col=text]
    *                  [--item-col=<c>] [--min-freq-ppm=1000]
    *                  [--input-mode=...] [--output-mode=...] [--row-restriction=<pred>]
    * }}}
    *
    * With `--item-col` counts that column's values directly; otherwise
    * counts whitespace words of `--text-col`. Output: (item, cnt), exact. */
  private def heavyWords(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val ppm = f.getOrElse("min-freq-ppm", "1000").toLong
    val result = f.get("item-col") match {
      case Some(c) => graft.ext.Frequent.heavyHitters(df, c, ppm)
      case None =>
        graft.ext.Frequent.heavyWords(df, f.getOrElse("text-col", "text"), ppm)
    }
    write(result, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: learned BPE tokenization ([[graft.ext.Bpe]]) as a
    * one-shot job: train merges on the input corpus, then tokenize it.
    *
    * {{{
    * graft bpeTokenize --input=<path> --output=<dir> [--text-col=text]
    *                   [--num-merges=8000] [--max-word-types=65536]
    *                   [--byte-level] [--merges-output=<dir>] [--count-only]
    *                   [--input-mode=...] [--output-mode=...] [--row-restriction=<pred>]
    * }}}
    *
    * Output: the input columns + `bpe_tokens` (array) or, with
    * `--count-only`, + `n_bpe_tokens`. `--merges-output` also writes the
    * learned (rank, left, right) table for reuse/audit (parquet — byte-
    * level merge symbols include non-printable chars). `--byte-level`
    * trains over the GPT-2-style 256-symbol UTF-8 byte alphabet (no OOV). */
  private def bpeTokenize(f: Map[String, String], spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.col
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val textCol = f.getOrElse("text-col", "text")
    val model = graft.ext.Bpe.train(df, textCol,
      numMerges = f.getOrElse("num-merges", "8000").toInt,
      maxWordTypes = f.getOrElse("max-word-types", "65536").toInt,
      byteLevel = f.contains("byte-level"))
    f.get("merges-output").foreach { mo =>
      import spark.implicits._
      val merges = model.merges.zipWithIndex
        .map { case ((a, b), r) => (r, a, b) }
        .toDF("rank", "left", "right")
      write(merges.coalesce(1), mo, "parquet")
    }
    val result =
      if (f.contains("count-only"))
        df.withColumn("n_bpe_tokens", model.tokenCountCol(col(textCol)))
      else df.withColumn("bpe_tokens", model.encodeCol(col(textCol)))
    write(result, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: SemDeDup semantic dedup
    * ([[graft.ext.SemDedup.semanticDedup]]) as a one-shot job.
    *
    * {{{
    * graft semDedup --input=<path> --output=<dir> --id-col=<c> --vec-col=<c>
    *                --k=<clusters> [--tau=0.95] [--max-cluster-size=10000]
    *                [--max-split-rounds=6] [--seed=42] [--assignments-only]
    *                [--input-mode=...] [--output-mode=...] [--row-restriction=<pred>]
    * }}}
    *
    * Default output is the DEDUPLICATED corpus (kept rows, original
    * schema); `--assignments-only` writes the full (id, cluster, keep,
    * oversized) audit table instead. */
  private def semDedup(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val idCol = required(f, "id-col")
    val r = graft.ext.SemDedup.semanticDedup(df, idCol,
      required(f, "vec-col"), k = required(f, "k").toInt,
      tau = f.getOrElse("tau", "0.95").toDouble,
      seed = f.getOrElse("seed", "42").toLong,
      maxClusterSize = f.getOrElse("max-cluster-size", "10000").toInt,
      maxSplitRounds = f.getOrElse("max-split-rounds", "6").toInt)
    val result =
      if (f.contains("assignments-only")) r
      else df.join(r.filter(org.apache.spark.sql.functions.col("keep"))
        .select(org.apache.spark.sql.functions.col("id").as(idCol)), idCol)
    write(result, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: DSIR importance scoring / selection
    * ([[graft.ext.Importance]]) as a one-shot job.
    *
    * {{{
    * graft dsirScore --input=<path> --output=<dir> --id-col=<c>
    *                 --target=<sql predicate over the input>
    *                 [--text-col=text] [--exact | --buckets=8192 [--ngram=1]]
    *                 [--top-fraction=<f> [--temperature=1.0] [--salt=dsir]]
    *                 [--input-mode=...] [--output-mode=...] [--row-restriction=<pred>]
    * }}}
    *
    * Scores every document against the LM of the `--target` slice vs the
    * whole input. With `--top-fraction`, Gumbel-resamples and writes the
    * SELECTED subset (original schema + score); otherwise writes
    * (id, n_tokens, imp_logratio) for every document. */
  private def dsirScore(f: Map[String, String], spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val idCol = required(f, "id-col")
    val textCol = f.getOrElse("text-col", "text")
    val tgt = expr(stripQuoteWrap(required(f, "target")))
    val scores =
      if (f.contains("exact"))
        graft.ext.Importance.importanceScores(df, idCol, textCol, tgt)
      else graft.ext.Importance.hashedImportanceScores(df, idCol, textCol,
        tgt, nBuckets = f.getOrElse("buckets", "8192").toInt,
        ngramOrder = f.getOrElse("ngram", "1").toInt)
    val result = f.get("top-fraction") match {
      case None => scores
      case Some(frac) =>
        val joined = df.join(scores.select(col("id").as(idCol),
          col("imp_logratio")), idCol)
        graft.ext.Importance.gumbelTopFraction(joined, idCol, "imp_logratio",
          frac.toDouble, f.getOrElse("temperature", "1.0").toDouble,
          f.getOrElse("salt", "dsir"))
    }
    write(result, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension: deterministic training-order shuffle
    * ([[graft.ext.Split.trainOrder]]) as a one-shot job. Writes
    * directory-per-shard (`shard=N/...`) with rows sorted by order key
    * inside each shard — reading the directories in shard order replays
    * the global permutation.
    *
    * {{{
    * graft trainOrder --input=<path> --output=<dir> --key=<c1,c2>
    *                  --salt=<epoch tag> [--shards=256]
    *                  [--input-mode=...] [--output-mode=parquet|json]
    *                  [--row-restriction=<pred>]
    * }}} */
  private def trainOrder(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val out = required(f, "output")
    val ordered = graft.ext.Split.trainOrder(df, csv(f.get("key")),
      salt = required(f, "salt"), numShards = f.getOrElse("shards", "256").toInt)
    write(ordered, out, f.getOrElse("output-mode", "parquet"), Seq("shard"))
  }

  /** Engine extension: the Gopher-rule quality filter
    * ([[graft.ext.TextAnalysis.gopherFilter]]) as a one-shot curation job.
    *
    * {{{
    * graft gopherFilter --input=<path> --output=<dir> [--text-col=text]
    *                    [--signals-only] [--repetition]
    *                    [--min-words=50] [--max-words=100000]
    *                    [--min-mean-word-len=3.0] [--max-mean-word-len=10.0]
    *                    [--max-symbol-ratio=0.1] [--max-bullet-frac=0.9]
    *                    [--max-ellipsis-frac=0.3] [--min-alpha-frac=0.8]
    *                    [--min-stopword-hits=2] [--stopwords=w1,w2,...]
    *                    [--input-mode=parquet|avro|json]
    *                    [--output-mode=parquet|json] [--row-restriction=<pred>]
    * }}}
    *
    * `--signals-only` writes every row with its signal columns and `keep`
    * verdict (audit mode) instead of the filtered corpus. The threshold
    * flags default to the Gopher paper profile (English); a non-English
    * profile passes its own `--stopwords` list (empty string disables the
    * rule) plus whatever thresholds its script needs (CJK text typically
    * wants `--min-alpha-frac=0`). */
  private def gopherFilter(f: Map[String, String], spark: SparkSession): Unit = {
    val input = required(f, "input")
    val out = required(f, "output")
    val df = restrict(read(spark, input, f.getOrElse("input-mode", "parquet")), f)
    val textCol = f.getOrElse("text-col", "text")
    val minWords = f.getOrElse("min-words", "50").toLong
    val maxWords = f.getOrElse("max-words", "100000").toLong
    val minMWL = f.getOrElse("min-mean-word-len", "3.0").toDouble
    val maxMWL = f.getOrElse("max-mean-word-len", "10.0").toDouble
    val maxSym = f.getOrElse("max-symbol-ratio", "0.1").toDouble
    val maxBullet = f.getOrElse("max-bullet-frac", "0.9").toDouble
    val maxEllipsis = f.getOrElse("max-ellipsis-frac", "0.3").toDouble
    val minAlpha = f.getOrElse("min-alpha-frac", "0.8").toDouble
    val minStopHits = f.getOrElse("min-stopword-hits", "2").toLong
    val stopwords = f.get("stopwords") match {
      case None => graft.ext.TextAnalysis.DefaultGopherStopwords
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    // --repetition adds the Table A1 repetition rules (dup line/para,
    // top/dup n-gram char fractions) to the base rule set
    val result =
      if (f.contains("signals-only")) {
        val sig = graft.ext.TextAnalysis.gopherSignals(df, textCol,
          minWords, maxWords, minMWL, maxMWL, maxSym, maxBullet,
          maxEllipsis, minAlpha, minStopHits, stopwords)
        if (f.contains("repetition"))
          graft.ext.TextAnalysis.repetitionSignals(sig, textCol)
        else sig
      } else {
        val kept = graft.ext.TextAnalysis.gopherFilter(df, textCol,
          minWords, maxWords, minMWL, maxMWL, maxSym, maxBullet,
          maxEllipsis, minAlpha, minStopHits, stopwords)
        if (f.contains("repetition"))
          graft.ext.TextAnalysis.repetitionFilter(kept, textCol)
        else kept
      }
    write(result, out, f.getOrElse("output-mode", "parquet"),
      csv(f.get("partition-by")))
  }

  /** Engine extension beyond the reference CLI: the per-group dataset
    * card ([[graft.ext.TextAnalysis.corpusReport]]) as a one-shot job.
    *
    * {{{
    * graft corpusReport --input=<path> --output=<dir> [--text-col=text]
    *                    [--group-by=lang,source] [--input-mode=parquet|avro|json]
    *                    [--output-mode=parquet|json] [--row-restriction=<pred>]
    * }}} */
  private def corpusReport(f: Map[String, String], spark: SparkSession): Unit = {
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val rep = graft.ext.TextAnalysis.corpusReport(df,
      f.getOrElse("text-col", "text"), csv(f.get("group-by")))
    write(rep.coalesce(1), required(f, "output"), f.getOrElse("output-mode", "parquet"))
  }

  /** Engine extension: pre-drop duplication audit ([[graft.ext.Dedup
    * .dedupReport]]) — cluster-size histogram, optionally with per-
    * attribute redundancy attribution:
    * {{{
    * graft dedupReport --input=<path> --output=<dir>
    *   [--id-col=doc_id] [--text-col=text] [--mode=exact|near] [--by=source]
    *   [--threshold=0.8] [--num-hashes=64] [--bands=16] [--shingle-len=5]
    * }}}
    * `exact` groups byte-identical text (fingerprint components); `near`
    * clusters banded-minhash near-duplicates first. */
  private def dedupReportCmd(f: Map[String, String], spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, lit, min}
    val df = restrict(read(spark, required(f, "input"),
      f.getOrElse("input-mode", "parquet")), f)
    val id = f.getOrElse("id-col", "doc_id")
    val text = f.getOrElse("text-col", "text")
    val comp = f.getOrElse("mode", "exact") match {
      case "exact" =>
        val rep = df.select(col(id).as("id"),
          graft.GraftFunctions.farmHash64(col(text)).as("__f"))
        rep.join(rep.groupBy("__f").agg(min(col("id")).as("component")), "__f")
          .select("id", "component")
      case "near" =>
        graft.ext.Dedup.connectedComponents(
          graft.ext.Dedup.minhashNearDups(df, id, text,
            numHashes = f.getOrElse("num-hashes", "64").toInt,
            bands = f.getOrElse("bands", "16").toInt,
            shingleLen = f.getOrElse("shingle-len", "5").toInt,
            threshold = f.getOrElse("threshold", "0.8").toDouble))
      case other => throw new IllegalArgumentException(
        s"--mode must be exact or near, got $other")
    }
    val hist = graft.ext.Dedup.dedupReport(df, id, comp)
      .select(lit("size").as("kind"),
        col("cluster_size").cast("string").as("key"),
        col("n_clusters"), col("n_docs"), col("n_redundant"))
    val rep = f.get("by") match {
      case Some(by) => hist.unionByName(
        graft.ext.Dedup.dedupReportBy(df, id, comp, by)
          .select(lit(by).as("kind"), col(by).cast("string").as("key"),
            lit(null).cast("long").as("n_clusters"),
            col("n_docs"), col("n_redundant")))
      case None => hist
    }
    write(rep.coalesce(1).orderBy("kind", "key"), required(f, "output"),
      f.getOrElse("output-mode", "parquet"))
  }

  private[cli] def read(spark: SparkSession, path: String, mode: String): DataFrame =
    mode match {
      case "parquet" => GraftIO.readParquet(spark, path)
      case "orc"     => spark.read.orc(path)
      case "avro"    => AvroIO.read(spark, path)
      case "json"    => GraftIO.readJsonLines(spark, path)
      // header+inferSchema mirrors the reference's CSV convenience readers;
      // production flows should land on parquet/avro for pushdown + types
      case "csv"     => spark.read.option("header", "true")
        .option("inferSchema", "true")
        // text corpora embed newlines; default line-mode parsing would
        // split quoted multi-line fields into garbage rows
        .option("multiLine", "true").csv(path)
      // length-delimited protobuf wire files, schema from the original
      // .proto source (reference: sc.protobufFile with a protoc-compiled
      // class — BigDiffy.scala:339): --input-mode=proto:<schema.proto>:<Message>
      case m if m.startsWith("proto:") => m.split(":", 3) match {
        case Array(_, protoFile, message) =>
          val descs = graft.sources.ProtoWire.parseProtoFile(protoFile)
          val desc = descs.getOrElse(message, throw new IllegalArgumentException(
            s"message '$message' not found in $protoFile " +
              s"(declared: ${descs.keys.toSeq.sorted.mkString(", ")})"))
          graft.sources.ProtoWire.readDelimited(spark, path, desc)
        case _ => throw new IllegalArgumentException(
          "proto mode needs proto:<schema.proto>:<MessageName>")
      }
      case m => throw new IllegalArgumentException(s"unknown input-mode $m")
    }

  /** Write `df` to `path` unless a concurrent run completed `path` while
    * this one computed it ([[run]] already skipped a complete output up
    * front); returns whether it wrote. `partitionBy` is the engine's
    * analog of the reference's BQ time-partitioned sink (S12,
    * BigSamplerBigQuery.scala:187-199): directory partitioning on the
    * named columns (avro sink excluded — the avro-mapred path has no
    * partitioned committer). */
  private[cli] def write(df: DataFrame, path: String, mode: String,
                    partitionBy: Seq[String] = Nil): Boolean = {
    val wrote = GraftIO.unlessDone(path)(writeMode(df, path, mode, partitionBy))
    if (!wrote) System.err.println(s"[graft] output $path already complete, skipping")
    wrote
  }

  private def writeMode(df: DataFrame, path: String, mode: String,
                        partitionBy: Seq[String]): Unit = mode match {
    case "parquet" =>
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
    case "orc" =>
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
    case "avro" =>
      require(partitionBy.isEmpty, "--partition-by is not supported for avro output")
      AvroIO.write(df, path)
    case "json" =>
      val w = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
    case "csv" =>
      // arrays/structs don't fit CSV cells: fail here with a clear message
      // instead of Spark's deep AnalysisException
      import org.apache.spark.sql.types.{ArrayType, MapType, StructType, NullType, BinaryType}
      val bad = df.schema.fields.filter(f => f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | NullType |
             BinaryType => true
        case _ => false
      })
      require(bad.isEmpty,
        s"--output-mode=csv needs atomic columns; non-atomic: ${bad.map(_.name).mkString(", ")}")
      val w = df.write.mode("overwrite").option("header", "true")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
    case m if m.startsWith("proto:") => m.split(":", 3) match {
      case Array(_, protoFile, message) =>
        require(partitionBy.isEmpty,
          "--partition-by is not supported for proto output")
        val descs = graft.sources.ProtoWire.parseProtoFile(protoFile)
        val desc = descs.getOrElse(message, throw new IllegalArgumentException(
          s"message '$message' not found in $protoFile " +
            s"(declared: ${descs.keys.toSeq.sorted.mkString(", ")})"))
        graft.sources.ProtoWire.writeDelimited(df, desc, path)
      case _ => throw new IllegalArgumentException(
        "proto mode needs proto:<schema.proto>:<MessageName>")
    }
    case m => throw new IllegalArgumentException(s"unknown output-mode $m")
  }

  private[cli] def required(f: Map[String, String], k: String): String =
    f.getOrElse(k, throw new IllegalArgumentException(s"missing required --$k"))

  /** P5 row-restriction predicate (reference BigDiffy.scala:364-374,
    * 386-395: a SQL WHERE-style predicate pushed to the BQ Storage API
    * scan). Here the predicate becomes `filter(expr(...))` BEFORE key
    * extraction / sampling, and Catalyst pushes it into the parquet scan
    * (PushedFilters), so a user diffing one partition of a huge table
    * reads only that partition. Surrounding quotes are stripped like the
    * reference's quote-strip helper (BigDiffy.scala:364-374). */
  private[cli] def restrict(df: DataFrame, f: Map[String, String]): DataFrame =
    f.get("row-restriction").map(_.trim).filter(_.nonEmpty) match {
      case Some(p) =>
        val stripped = stripQuoteWrap(p)
        require(stripped.trim.nonEmpty,
          "--row-restriction is empty after quote stripping")
        df.filter(org.apache.spark.sql.functions.expr(stripped))
      case None => df
    }

  /** Strip surrounding quotes ONLY when they wrap the whole predicate
    * (no further quote of the same kind inside): a predicate that merely
    * STARTS and ENDS with distinct string literals — e.g.
    * '2025-01-01' <= d AND d <= '2025-12-31' — must pass through
    * untouched, or the strip would re-pair its quotes into garbage.
    * Backtick included for reference-CLI parity: its stripQuoteWrap
    * (BigDiffy.scala) accepts `-wrapped predicates too. */
  private[cli] def stripQuoteWrap(p: String): String = {
    val inner = p.substring(1, math.max(p.length - 1, 1))
    if (p.length >= 2 && "\"'`".contains(p.head) && p.last == p.head &&
        !inner.contains(p.head)) inner
    else p
  }

  private def bigDiffy(f: Map[String, String], spark: SparkSession): Unit = {
    val mode = f.getOrElse("input-mode", "parquet")
    val lhs = restrict(read(spark, required(f, "lhs"), mode), f)
    val rhs = restrict(read(spark, required(f, "rhs"), mode), f)
    val keys = csv(f.get("key"))
    require(keys.nonEmpty, "missing required --key")
    val opts = DiffOptions(
      ignore = csv(f.get("ignore-fields")).toSet,
      unordered = csv(f.get("unordered")).toSet,
      unorderedFieldKeys = csv(f.get("unordered-keys")).map { s =>
        val Array(a, b) = s.split(':'); a -> b
      }.toMap,
      ignoreNan = f.contains("ignore-nan"))
    val result = BigDiffy.diff(lhs, rhs, keys, opts)
    // the diff relation is persisted for saveStats' two passes over it;
    // release it so a long-lived session does not accumulate one
    // cached relation per call
    try BigDiffy.saveStats(result, required(f, "output"), ignoreNan = opts.ignoreNan)
    finally result.unpersist()
  }

  private def bigSampler(f: Map[String, String], spark: SparkSession): Unit = {
    val mode = f.getOrElse("input-mode", "parquet")
    // validate required flags before any IO so a typo'd invocation fails
    // with the missing flag, not a path error from the wrong stage
    val input = required(f, "input")
    val out = required(f, "output")
    val fraction = required(f, "sample").toDouble
    val df = restrict(read(spark, input, mode), f)
    val det: BigSampler.Determinism = csv(f.get("fields")) match {
      case Nil => BigSampler.Random(f.get("seed").map(_.toLong).getOrElse(42L))
      case fs => BigSampler.Hashed(fs,
        f.getOrElse("hash-algorithm", "farm"),
        f.get("seed").map(_.toInt),
        graft.functions.ByteEncoding.fromString(f.getOrElse("byte-encoding", "raw")))
    }
    val dist: BigSampler.Distribution = f.get("distribution") match {
      case None => BigSampler.NoDistribution
      case Some("stratified") => BigSampler.Stratified(csv(f.get("distribution-fields")))
      case Some("uniform")    => BigSampler.Uniform(csv(f.get("distribution-fields")))
      case Some(d) => throw new IllegalArgumentException(s"unknown distribution $d")
    }
    write(BigSampler.sample(df, fraction, det, dist, exact = f.contains("exact")),
      out, f.getOrElse("output-mode", mode), csv(f.get("partition-by")))
  }

  private def directSampler(f: Map[String, String], spark: SparkSession): Unit = {
    val mode = f.getOrElse("input-mode", "parquet")
    val input = required(f, "input")
    val out = required(f, "output")
    val n = required(f, "n").toInt
    val df = read(spark, input, mode)
    val sampled = f.getOrElse("mode", "head") match {
      case "head"      => DirectSampler.head(df, n, csv(f.get("order-by")))
      case "reservoir" => DirectSampler.reservoir(df, n,
        f.get("seed").map(_.toLong).getOrElse(42L))
      // deterministic k rows per key (k-shot-per-class): -n is k,
      // --per-key names the class columns
      case "perKey"    => DirectSampler.kPerKey(df, csv(f.get("per-key")), n,
        f.get("seed").map(_.toInt).getOrElse(0))
      case m => throw new IllegalArgumentException(s"unknown sampler mode $m")
    }
    write(sampled, out, f.getOrElse("output-mode", mode))
  }
}
