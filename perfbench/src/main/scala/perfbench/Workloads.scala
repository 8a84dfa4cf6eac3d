package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** One CLI call (`graft.cli.Graft.run(args)`) and the check of its output
  * against the planted ground truth. `check` runs after the call's timed
  * span and returns the mismatches found (empty = correct). */
final case class Op(args: Seq[String], check: () => Seq[String] = () => Nil) {
  def command: String = args.head
}

/** A seeded workload: its inputs (generated on construction) and the op
  * sequence of each pass. */
trait Workload {
  def name: String
  /** Rows of input one pass processes (the base of rows_per_s). */
  def inputRows: Long
  /** Seconds spent generating inputs in this run. */
  def genSeconds: Double
  /** How many passes one run can make (each pass may consume fresh input). */
  def passLimit: Int = Int.MaxValue
  /** The ops of pass `pass` (warm-up passes included, counted from 0);
    * every output goes under `passDir`. */
  def ops(pass: Int, passDir: String): Seq[Op]
  /** Ops run once after `passes` passes, outside every pass. */
  def finish(passes: Int): Seq[Op] = Nil
  /** Bytes the run leaves on disk ÷ parquet bytes of its input, after
    * [[finish]]; `lastPassDir` holds the last pass's outputs. */
  def outBytesPerInputByte(lastPassDir: String, passes: Int): Double
}

object Workload {
  val Names = Seq("ratatool_core", "curation_pipeline", "index_serve")

  /** The workload at the measured runs' input size, or with `small` at the
    * traced layer suite's. `runDir` holds the run's own copies of inputs
    * that ops change in place. */
  def apply(name: String, spark: SparkSession, genRoot: String, runDir: String, seed: Long,
            small: Boolean): Workload = name match {
    case "ratatool_core" => ratatoolCore(spark, genRoot, seed, small)
    case "curation_pipeline" => curation(spark, genRoot, seed, small)
    case "index_serve" => indexServe(spark, genRoot, runDir, seed, small)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  def ratatoolCore(spark: SparkSession, genRoot: String, seed: Long,
                   small: Boolean): RatatoolCore =
    // at 120,000 rows a late, run-dependent JIT step in the shuffle path
    // (15-20% of a pass) spread ten runs to the 0.25 bound; see README.md
    new RatatoolCore(spark, genRoot, seed, rows = if (small) 20000 else 40000)

  def curation(spark: SparkSession, genRoot: String, seed: Long, small: Boolean): Curation =
    new Curation(spark, genRoot, seed, docs = if (small) 300 else 1000)

  def indexServe(spark: SparkSession, genRoot: String, runDir: String, seed: Long,
                 small: Boolean): IndexServe =
    if (small) new IndexServe(spark, genRoot, runDir, seed, baseDocs = 400, cycles = 1,
      batchDocs = 40, queries = 4)
    else new IndexServe(spark, genRoot, runDir, seed, baseDocs = 1000, cycles = 6,
      batchDocs = 100, queries = 8)

  private[perfbench] def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")
}

import Workload.expect

/** The paper's two dataflow programs over TPC-H-shaped lineitem: three
  * `bigSampler` arms over an Avro copy, then a keyed `bigDiffy` of the
  * table against a copy with planted differences. The table itself does
  * not depend on the seed (like a fixed TPC-H scale factor), so it is
  * generated once per size; the seed plants the differences, the extra
  * right-hand rows and the stratified arm's hash seed. */
final class RatatoolCore(spark: SparkSession, genRoot: String, seed: Long, rows: Long)
    extends Workload {
  val name = "ratatool_core"
  private val baseDir = s"$genRoot/lineitem-r$rows"
  private val dir = s"$genRoot/ratatool_core-r$rows-s$seed"
  private val Fraction = 0.1
  val lhs = s"$baseDir/lineitem.parquet"
  val avro = s"$baseDir/lineitem.avro"
  val rhs = s"$dir/lineitem_rhs.parquet"
  private val extraRows = rows / 200
  private val cores = spark.sparkContext.defaultParallelism

  val genSeconds: Double = Inputs.cached(baseDir) {
    Inputs.writeParquet(Inputs.lineitem(spark, rows, Inputs.TableSeed), lhs, cores)
    graft.sources.AvroIO.write(spark.read.parquet(lhs), avro, "lineitem")
  } + Inputs.regenerate(dir) {
    val (r, cls) = Inputs.perturb(spark.read.parquet(lhs), seed,
      Inputs.lineitem(spark, extraRows, seed, rows))
    Inputs.writeParquet(r, rhs, cores)
    val counts = cls.groupBy("cls", "stratum").count().collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    val truth = counts.groupBy(_._1).map { case (c, xs) => s"cls.$c=${xs.map(_._3).sum}" } ++
      counts.groupBy(_._2).map { case (k, xs) => s"stratum.$k=${xs.map(_._3).sum}" }
    Fs.writeString(s"$dir/truth.txt", truth.mkString("\n") + "\n")
  }

  private val truth: Map[String, Long] = Fs.readString(s"$dir/truth.txt").linesIterator
    .filter(_.nonEmpty).map { l => val Array(k, v) = l.split("="); k -> v.toLong }.toMap
  val strata: Map[String, Long] = truth.collect {
    case (k, v) if k.startsWith("stratum.") => k.stripPrefix("stratum.") -> v }
  private def cls(c: String) = truth.getOrElse(s"cls.$c", 0L)

  val inputRows: Long = rows

  def outBytesPerInputByte(lastPassDir: String, passes: Int): Double =
    Fs.dataBytes(lastPassDir).toDouble / Fs.dataBytes(lhs)

  private def strataCounts(path: String): Map[String, Long] =
    spark.read.parquet(path).groupBy("l_returnflag", "l_linestatus").count().collect()
      .map(r => s"${r.getString(0)}_${r.getString(1)}" -> r.getLong(2)).toMap

  /** |got - want| within six binomial standard deviations. */
  private def near(what: String, got: Long, want: Double, variance: Double): Seq[String] =
    if (math.abs(got - want) <= 6 * math.sqrt(variance) + 1) Nil
    else Seq(f"$what: got $got, want $want%.1f ± ${6 * math.sqrt(variance) + 1}%.1f")

  def ops(pass: Int, p: String): Seq[Op] = {
    val sampler = Seq("bigSampler", s"--input=$avro", "--input-mode=avro",
      "--output-mode=parquet", s"--sample=$Fraction")
    Seq(
      Op(sampler ++ Seq(s"--output=$p/hashed", "--fields=l_orderkey,l_linenumber"),
        () => near("hashed sample rows", spark.read.parquet(s"$p/hashed").count(),
          rows * Fraction, rows * Fraction * (1 - Fraction))),
      Op(sampler ++ Seq(s"--output=$p/stratified", "--fields=l_key",
          "--hash-algorithm=murmur", s"--seed=${seed % 100000}", "--distribution=stratified",
          "--distribution-fields=l_returnflag,l_linestatus", "--exact"),
        () => expect("stratified per-stratum rows", strataCounts(s"$p/stratified"),
          strata.map { case (k, n) => k -> math.ceil(n * Fraction).toLong })),
      Op(sampler ++ Seq(s"--output=$p/uniform", "--fields=l_key",
          "--distribution=uniform", "--distribution-fields=l_returnflag,l_linestatus"),
        () => {
          val pop = rows * Fraction / strata.size
          val ps = strata.map { case (k, n) => k -> (math.min(pop / n, 1.0), n) }
          val got = strataCounts(s"$p/uniform")
          ps.toSeq.flatMap { case (k, (pk, n)) =>
            near(s"uniform rows of stratum $k", got.getOrElse(k, 0L), n * pk, n * pk * (1 - pk))
          }
        }),
      Op(Seq("bigDiffy", s"--lhs=$lhs", s"--rhs=$rhs", "--key=l_key", s"--output=$p/diff"),
        () => checkDiff(s"$p/diff")))
  }

  private def tsv(path: String): Array[Row] =
    spark.read.option("header", "true").option("sep", "\t").csv(path).collect()

  private def checkDiff(out: String): Seq[String] = {
    val g = tsv(s"$out/global").head
    val changed = Inputs.DiffClasses.filter(_._4.nonEmpty).map(c => cls(c._1)).sum
    val missingRhs = cls("missing_rhs")
    val globals = expect("diff global counts",
      Seq("num_total", "num_same", "num_diff", "num_missing_lhs", "num_missing_rhs")
        .map(c => c -> g.getAs[String](c).toLong).toMap,
      Map("num_total" -> (rows + extraRows), "num_same" -> (rows - missingRhs - changed),
        "num_diff" -> changed, "num_missing_lhs" -> extraRows, "num_missing_rhs" -> missingRhs))
    val fields = tsv(s"$out/fields").map(r => r.getAs[String]("field") -> r.getAs[String]("count").toLong).toMap
    val wantFields = Inputs.DiffClasses.flatMap { case (c, _, _, fs) => fs.map(_ -> cls(c)) }.toMap
    globals ++ expect("diff per-field counts", fields, wantFields)
  }
}

/** One `graft pipeline` recipe over a corpus with planted duplicates,
  * near-duplicates, contamination and rule failures. */
final class Curation(spark: SparkSession, genRoot: String, seed: Long, docs: Int)
    extends Workload {
  import spark.implicits._
  val name = "curation_pipeline"
  private val dir = s"$genRoot/curation-d$docs-s$seed"
  private val Fraction = 0.8
  val input = s"$dir/corpus.parquet"
  val bench = s"$dir/bench.parquet"
  private val corpus = Inputs.corpus(docs, seed)
  private val cores = spark.sparkContext.defaultParallelism

  /** The recipe: every stage of the curation chain, audit as given. */
  def recipe(audit: Boolean): String = s"""{
    |  "input": ${Json.str(input)}, "id_col": "doc_id", "text_col": "text",
    |  "audit": $audit,
    |  "stages": [
    |    {"op": "filter", "predicate": "lang = 'en'"},
    |    {"op": "normalize"},
    |    {"op": "gopher", "min_words": 50, "min_stopword_hits": 2},
    |    {"op": "repetition"},
    |    {"op": "dedup_exact"},
    |    {"op": "dedup_near", "threshold": 0.8},
    |    {"op": "decontaminate", "benchmark": ${Json.str(bench)}, "n": 50},
    |    {"op": "quality_top_fraction", "fraction": $Fraction},
    |    {"op": "train_order", "salt": "v1", "shards": $cores}
    |  ]
    |}
    |""".stripMargin
  val recipePath = s"$dir/recipe.json"
  val recipeNoAuditPath = s"$dir/recipe_noaudit.json"

  val genSeconds: Double = Inputs.regenerate(dir) {
    Inputs.writeParquet(corpus.docs.toDF("doc_id", "lang", "text"), input, cores)
    Inputs.writeParquet(corpus.bench.toDF("text"), bench, 1)
    Fs.writeString(recipePath, recipe(audit = true))
    Fs.writeString(recipeNoAuditPath, recipe(audit = false))
  }

  val inputRows: Long = docs.toLong

  def outBytesPerInputByte(lastPassDir: String, passes: Int): Double =
    Fs.dataBytes(lastPassDir).toDouble / Fs.dataBytes(input)

  def pipelineOp(out: String, recipeFile: String): Op =
    Op(Seq("pipeline", s"--recipe=$recipeFile", s"--output=$out"), () => {
      val got = spark.read.parquet(out).select("doc_id", "text").collect()
      val ids = got.map(_.getLong(0))
      expect("pipeline output rows", got.length.toLong,
          math.ceil(corpus.cleanIds.size * Fraction).toLong) ++
        expect("duplicated texts in output", got.length - got.map(_.getString(1)).distinct.length, 0) ++
        expect("contaminated docs kept", ids.count(corpus.contaminatedIds), 0) ++
        expect("non-clean docs kept", ids.count(i => !corpus.cleanIds(i)), 0)
    })

  def ops(pass: Int, p: String): Seq[Op] = Seq(pipelineOp(s"$p/out", recipePath))
}

/** Writes beside reads. The base docs and vectors, and the dedup, BM25
  * and IVF-PQ indexes built from them, do not depend on the seed: they are
  * made once per size and checkout, and every run serves from fresh copies
  * of the indexes. Pass `k` is one serving cycle against the run's growing
  * dedup index: searches (near and exact dedup of batch `k`, text, vector),
  * then the append of batch `k`. Pass `k`'s searches therefore see the base
  * segment plus `k` appended ones. The run closes with one compaction. */
final class IndexServe(spark: SparkSession, genRoot: String, runDir: String, seed: Long,
                       baseDocs: Int, cycles: Int, batchDocs: Int, queries: Int)
    extends Workload {
  import spark.implicits._
  val name = "index_serve"
  private val baseDir = s"$genRoot/index-base-b$baseDocs"
  private val dir = s"$genRoot/index-b$baseDocs-c$cycles-n$batchDocs-q$queries-s$seed"
  private val indexBase = Inputs.indexBase(baseDocs)
  val cycleInputs: Seq[Inputs.Cycle] =
    Inputs.indexCycles(indexBase, cycles, batchDocs, queries, seed)
  val base = s"$baseDir/base.parquet"
  val vectors = s"$baseDir/vectors.parquet"
  // one parquet table per input kind, partitioned by cycle: a partition
  // directory reads as the cycle's own table
  def batch(c: Int) = s"$dir/batches.parquet/cycle=$c"
  def vecQueries(c: Int) = s"$dir/vec_queries.parquet/cycle=$c"
  private val Indexes = Seq("dedup_idx", "text_idx", "pq_idx")

  val genSeconds: Double = Inputs.cached(baseDir) {
    Inputs.writeParquet(indexBase.docs.toDF("doc_id", "text"), base, 2)
    Inputs.writeParquet(indexBase.vectors.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding"), vectors, 2)
    Seq(Seq("index", "--type=dedup", s"--input=$base", s"--output=$baseDir/dedup_idx"),
      Seq("index", "--type=text", s"--input=$base", s"--output=$baseDir/text_idx",
        "--buckets=8"),
      Seq("index", "--type=ivfpq", s"--input=$vectors", s"--output=$baseDir/pq_idx",
        "--nlist=4", "--m=4", "--codebook-size=16"))
      .foreach(graft.cli.Graft.run(_, spark))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  } + Inputs.regenerate(dir) {
    val cs = cycleInputs.zipWithIndex
    cs.flatMap { case (c, i) => c.batch.docs.map { case (d, t) => (i, d, t) } }
      .toDF("cycle", "doc_id", "text").coalesce(1).write.partitionBy("cycle")
      .parquet(s"$dir/batches.parquet")
    cs.flatMap { case (c, i) => c.vecQueries.map { case (q, v, _) => (i, q, v.toSeq) } }
      .toDF("cycle", "vec_id", "embedding").coalesce(1).write.partitionBy("cycle")
      .parquet(s"$dir/vec_queries.parquet")
  }

  override val passLimit: Int = cycles
  val inputRows: Long = batchDocs.toLong

  private def census(idx: String): Long =
    spark.read.parquet(s"$idx/fingerprints").count()

  private val dedup = s"$runDir/dedup_idx"
  private val text = s"$runDir/text_idx"
  private val pq = s"$runDir/pq_idx"
  // per-run preparation, timed in setup_s: fresh copies of the indexes
  Indexes.foreach(i => Fs.copy(s"$baseDir/$i", s"$runDir/$i"))

  def ops(k: Int, out: String): Seq[Op] = {
    val c = cycleInputs(k)
    val b = c.batch
    Seq(
      Op(Seq("search", "--type=dedup", "--mode=near", s"--index=$dedup",
          s"--queries=${batch(k)}", s"--output=$out/near"), () => {
        val pairs = spark.read.parquet(s"$out/near").select("id_new", "id_old")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
        val planted = b.exactOf ++ b.nearOf
        expect("near-copy pairs missed", planted.count(pr => !pairs(pr)), 0) ++
          expect("novel docs matched", pairs.count(pr => b.novelIds(pr._1)), 0)
      }),
      Op(Seq("search", "--type=dedup", "--mode=exact", s"--index=$dedup",
          s"--queries=${batch(k)}", s"--output=$out/exact"), () =>
        expect("exact-search novel rows",
          spark.read.parquet(s"$out/exact").select("doc_id").as[Long].collect().toSet,
          b.nearOf.keySet ++ b.novelIds)),
      Op(Seq("search", "--type=text", s"--index=$text", s"--output=$out/text", "--k=5",
          "--query=" + c.textQueries.map(_._1).mkString(";;")), () => {
        val top = spark.read.parquet(s"$out/text").filter(col("rank") === 1)
          .select("query_id", "doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        expect("text top-1 hits", top,
          c.textQueries.zipWithIndex.map { case ((_, d), q) => q.toLong -> d }.toMap)
      }),
      Op(Seq("search", "--type=ivfpq", s"--index=$pq", s"--queries=${vecQueries(k)}",
          s"--output=$out/ivfpq", "--k=5", "--nprobe=2", s"--rerank-input=$vectors"), () => {
        val hits = spark.read.parquet(s"$out/ivfpq").select("query_id", "neighbor_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
        // IVF-PQ is approximate: with these parameters 2 of the 1,000 base
        // vectors stay outside the re-ranked candidates even when every
        // cell is probed, so one query of a pass may miss its source
        val missed = c.vecQueries.count { case (q, _, src) => !hits((q, src)) }
        if (missed <= 1) Nil
        else Seq(s"vector queries missing their source in the top 5: $missed of " +
          s"${c.vecQueries.size}, at most 1 allowed")
      }),
      Op(Seq("index", "--type=dedup", "--append", s"--input=${batch(k)}",
          s"--output=$dedup", s"--batch-id=b$k"), () =>
        expect("dedup index census after append", census(dedup),
          baseDocs.toLong + (k + 1L) * batchDocs)))
  }

  override def finish(passes: Int): Seq[Op] = Seq(
    Op(Seq("index", "--type=dedup", "--compact", s"--output=$dedup"), () =>
      expect("dedup index census after compaction", census(dedup),
        baseDocs.toLong + passes.toLong * batchDocs)))

  /** The three indexes after compaction ÷ the base, vectors and appended
    * batches: the space side of the read/write/space trade. */
  def outBytesPerInputByte(lastPassDir: String, passes: Int): Double =
    Seq(dedup, text, pq).map(Fs.dataBytes).sum.toDouble /
      (Fs.dataBytes(base) + Fs.dataBytes(vectors) + (0 until passes).map(c => Fs.dataBytes(batch(c))).sum)
}
