package perfbench

import graft.GraftFunctions
import graft.diffy.BigDiffy
import graft.ext.{DedupIndex, Retrieval, Similarity}
import graft.sampling.BigSampler
import graft.sources.AvroIO
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The per-layer suite of a traced run. It times calls into each module's
  * public functions from outside the program, on small seeded inputs (the
  * `small` size of every workload), with the benchmark's listener
  * attached. Each metric is (name, value, unit); README.md maps every one
  * to the end-to-end metric it should move. */
object Layers {
  type Metric = (String, Double, String)

  /** `own` is one traced pass of the measured workload: its CLI calls give
    * the cli spans of its own commands, and the suite runs small passes of
    * the other workloads for the rest. */
  def run(spark: SparkSession, genRoot: String, seed: Long, runner: Runner,
          own: PassResult, ownName: String, dir: String): Seq[Metric] = {
    val rec = runner.recorder.get
    spark.sparkContext.addSparkListener(rec)
    try {
      val s = new Suite(spark, genRoot, seed, runner, rec, own.ops, ownName, dir)
      Seq[(String, () => Seq[Metric])]("functions" -> (() => s.functions()),
        "sources" -> (() => s.sources()), "sampling" -> (() => s.sampling()),
        "diffy" -> (() => s.diffy()), "ext" -> (() => s.ext()), "cli" -> (() => s.cli()))
        .flatMap { case (layer, probe) =>
          val m = probe()
          Main.log(s"layer suite: $layer done")
          m
        }
    } finally {
      rec.drain()
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  private final class Suite(spark: SparkSession, genRoot: String, seed: Long,
                            runner: Runner, rec: Recorder, own: Seq[OpResult],
                            ownName: String, dir: String) {
    import spark.implicits._
    private val core = Workload.ratatoolCore(spark, genRoot, seed, small = true)
    private val cur = Workload.curation(spark, genRoot, seed, small = true)
    private val ix = Workload.indexServe(spark, genRoot, s"$dir/cli", seed, small = true)

    /** Seconds of `body` (monotonic clock), recorded as a span. */
    private def timed[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val (r, _) = runner.tracer.span(name)(body)
      (r, (System.nanoTime() - t0) / 1e9)
    }

    private def med(xs: Seq[Double]) = Main.median(xs)

    private def write(df: DataFrame, path: String): Unit =
      df.write.mode("overwrite").parquet(path)

    // ---- functions: Catalyst kernels in a plain loop ----------------------

    def functions(): Seq[Metric] = {
      val p = new Inputs.Prose(seed)
      val rnd = p.rnd
      val n = 2000
      val input = (0 until n).map { i =>
        (i.toLong, p.vocab(rnd.nextInt(p.vocab.length)), p.doc(60, 100),
          Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian()))
      }.toDF("k", "s", "text", "a", "b")
        .withColumn("sh", GraftFunctions.shingleHashes(col("text"), 5))
      val rows: Array[InternalRow] = input.queryExecution.executedPlan.executeCollect()
      val kernels: Seq[(String, Column)] = Seq(
        "hash_dice" -> GraftFunctions.hashDice(Seq(col("k"), col("s"))),
        "field_hash_murmur" -> GraftFunctions.fieldHash(Seq(col("k"), col("s")), "murmur", Some(7)),
        "shingle_hashes" -> GraftFunctions.shingleHashes(col("text"), 5),
        "minhash" -> GraftFunctions.minhash(col("sh"), 64),
        "script_tokens" -> GraftFunctions.scriptTokens(col("text")),
        "cosine_distance" -> GraftFunctions.cosineDistance(col("a"), col("b")))
      kernels.flatMap { case (name, kernel) =>
        val plan = input.select(kernel.as("x")).queryExecution.analyzed.asInstanceOf[Project]
        val bound = plan.projectList.map {
          case a: Alias => BindReferences.bindReference(a.child, plan.child.output)
          case e => BindReferences.bindReference(e, plan.child.output)
        }
        val codegen = GenerateUnsafeProjection.generate(bound)
        val interp = InterpretedUnsafeProjection.createProjection(bound)
        def rate(proj: InternalRow => InternalRow, mode: String): Double = {
          def once(): Double = {
            val t0 = System.nanoTime()
            var i = 0
            var nulls = 0
            while (i < rows.length) { if (proj(rows(i)).isNullAt(0)) nulls += 1; i += 1 }
            (System.nanoTime() - t0) / 1e9
          }
          once() // warm-up
          val (times, _) = timed(s"layer.functions.$name.$mode") {
            val ts = mutable.ArrayBuffer(once())
            while (ts.size < 3 || ts.sum < 0.1) ts += once()
            ts.toSeq
          }
          rows.length / med(times)
        }
        Seq((s"functions.$name.rows_per_s", rate(codegen(_), "codegen"), "rows/s"),
          (s"functions.$name.interp_rows_per_s", rate(interp(_), "interpreted"), "rows/s"))
      }
    }

    // ---- sources ---------------------------------------------------------

    def sources(): Seq[Metric] = {
      val read = timed("layer.sources.avro_read") {
        AvroIO.read(spark, core.avro).write.format("noop").mode("overwrite").save()
      }._2
      Seq(("sources.avro_read_rows_per_s", core.inputRows / read, "rows/s"))
    }

    // ---- sampling: plan (the call returns) and exec (the forced write) ----

    def sampling(): Seq[Metric] = {
      val df = spark.read.parquet(core.lhs)
      val strata = Seq("l_returnflag", "l_linestatus")
      val arms: Seq[(String, () => DataFrame)] = Seq(
        "hashed" -> (() => BigSampler.sample(df, 0.1,
          BigSampler.Hashed(Seq("l_orderkey", "l_linenumber")))),
        "stratified_exact" -> (() => BigSampler.sample(df, 0.1,
          BigSampler.Hashed(Seq("l_key"), "murmur", Some(7)), BigSampler.Stratified(strata),
          exact = true)),
        "uniform" -> (() => BigSampler.sample(df, 0.1, BigSampler.Hashed(Seq("l_key")),
          BigSampler.Uniform(strata))))
      arms.flatMap { case (arm, call) =>
        val (sampled, plan) = timed(s"layer.sampling.$arm.plan")(call())
        val exec = timed(s"layer.sampling.$arm.exec")(write(sampled, s"$dir/sampling/$arm"))._2
        Seq((s"sampling.$arm.plan_s", plan, "s"), (s"sampling.$arm.exec_s", exec, "s"))
      }
    }

    // ---- diffy -----------------------------------------------------------

    def diffy(): Seq[Metric] = {
      val l = spark.read.parquet(core.lhs)
      val r = spark.read.parquet(core.rhs)
      val out = s"$dir/diffy"
      val (res, plan) = timed("layer.diffy.diff.plan")(BigDiffy.diff(l, r, Seq("l_key")))
      val keyed = timed("layer.diffy.keyed.exec")(write(res.keyStats, s"$out/keys"))._2
      val fields = timed("layer.diffy.field_stats.exec")(write(res.fieldStats(), s"$out/fields"))._2
      val global = timed("layer.diffy.global.exec")(write(res.globalStats, s"$out/global"))._2
      res.unpersist()
      Seq(("diffy.diff.plan_s", plan, "s"), ("diffy.keyed.exec_s", keyed, "s"),
        ("diffy.field_stats.exec_s", fields, "s"), ("diffy.global.exec_s", global, "s"))
    }

    // ---- ext: the dedup index lifecycle and the four searches -------------

    def ext(): Seq[Metric] = {
      val base = spark.read.parquet(ix.base)
      val vectors = spark.read.parquet(ix.vectors)
      val incoming = spark.read.parquet(ix.batch(0))
      val text = s"$dir/ext/text_idx"
      val pq = s"$dir/ext/pq_idx"
      Retrieval.buildTextIndex(base, "doc_id", "text", text, buckets = 8)
      Similarity.buildIvfPqIndex(vectors, "vec_id", "embedding", pq, nlist = 4, m = 4,
        codebookSize = 16)
      val textQueries = ix.cycleInputs.head.textQueries.zipWithIndex
        .map { case ((q, _), i) => (i.toLong, q) }.toDF("qid", "qtext")
      val vecQueries = spark.read.parquet(ix.vecQueries(0))

      // one lifecycle: build, the four searches (the dedup ones against the
      // built index), then append the searched batch and compact
      val d = s"$dir/ext/dedup_idx"
      val build = timed("layer.ext.dedup_index.build")(DedupIndex.build(base, "doc_id", "text", d))._2
      val searches: Seq[(String, () => DataFrame)] = Seq(
        "dedup_near" -> (() => DedupIndex.minhashNewAgainst(spark, d, incoming, "doc_id", "text")),
        "dedup_exact" -> (() => DedupIndex.newAgainst(spark, d, incoming, "text")),
        "text" -> (() => Retrieval.searchTextIndex(spark, text, textQueries, "qid", "qtext", k = 5)),
        "ivfpq" -> (() => Similarity.searchIvfPqIndex(spark, pq, vecQueries, "vec_id",
          "embedding", k = 5, nprobe = 2, rerankFactor = 4, rerank = Some(vectors))))
      val searched = searches.flatMap { case (name, search) =>
        val t0 = System.currentTimeMillis()
        val (res, plan) = timed(s"layer.ext.$name.plan")(search())
        val out = s"$dir/ext/$name"
        val exec = timed(s"layer.ext.$name.exec")(write(res, out))._2
        val t1 = System.currentTimeMillis()
        rec.drain()
        val examined = rec.window(Seq((t0, t1))).inputRecords
        Seq((s"ext.$name.plan_s", plan, "s"), (s"ext.$name.exec_s", exec, "s"),
          (s"ext.$name.rows_examined_per_result",
            examined.toDouble / math.max(1L, spark.read.parquet(out).count()), "ratio"))
      }
      val append = timed("layer.ext.dedup_index.append")(
        DedupIndex.append(incoming, "doc_id", "text", d, batchId = Some("b0")))._2
      val compact = timed("layer.ext.dedup_index.compact")(DedupIndex.compact(spark, d))._2
      Seq(("ext.dedup_index.build_s", build, "s"), ("ext.dedup_index.append_s", append, "s"),
        ("ext.dedup_index.compact_s", compact, "s")) ++ searched
    }

    // ---- cli: Graft.run spans of every command ---------------------------

    def cli(): Seq[Metric] = {
      // the small pipeline pass always runs: its stage stats and audit
      // overhead are measured at one size whichever workload is traced
      val curOps = runner.pass(cur, 0, s"$dir/cli/${cur.name}", traced = false).ops
      val ops = own ++ (if (ownName == cur.name) Nil else curOps) ++
        Seq(core, ix).filterNot(_.name == ownName).flatMap { w =>
          runner.pass(w, 0, s"$dir/cli/${w.name}", traced = false).ops ++
            w.finish(1).map(runner.op(_))
        }
      val noAudit = runner.op(cur.pipelineOp(s"$dir/cli/noaudit/out", cur.recipeNoAuditPath))
      val audited = curOps.find(_.command == "pipeline").get
      val stageJson = Fs.readString(s"$dir/cli/${cur.name}/out/_stages.json")
      val stage = """"op":"(\w+)".*?"seconds":([0-9.]+)""".r
      val stages = stage.findAllMatchIn(stageJson).map { m =>
        (s"cli.pipeline.stage.${m.group(1)}_s", m.group(2).toDouble, "s") }.toSeq
      val commands = Seq("bigSampler", "bigDiffy", "pipeline", "index", "search").map { c =>
        (s"cli.${c}_s", med(ops.filter(_.command == c).map(_.seconds)), "s") }
      commands ++ stages ++ Seq(
        ("cli.pipeline.audit_overhead_s", audited.seconds - noAudit.seconds, "s"),
        ("cli.leaked_rdds", (ops :+ noAudit).map(_.leakedRdds).sum.toDouble, "count"))
    }
  }
}
