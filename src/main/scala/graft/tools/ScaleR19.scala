package graft.tools

import graft.ext.{Dedup, DedupIndex, Layout, Pack, Retrieval, ScoreFilter, SemDedup, Similarity, Split, TextAnalysis}
import graft.sources.GraftIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The round-19 scale-proof harness: runs the suite's ten heaviest
  * OPERATORS (not their audit gates) against an arbitrary SF directory,
  * recording per-operator wall, peak driver heap, and worst per-stage
  * task skew — so the 100 TB design claims get a measured sf1→sf10
  * scaling curve instead of an extrapolated one.
  *
  * {{{ ScaleR19 <sfDir> <outJson> }}}
  *
  * Run once against /tmp/sf1 and once against /tmp/sf10 (built by
  * [[ScaleUp]]: sf0.1 --rotate--> sf1 --tag--> sf10, so near-dup rate
  * and join fan-out stay scale-invariant), then merge the two records
  * into SCALE_r{N}.json. An operator passes the scale bar when its wall
  * grows ≤ ~1.3× linear in rows, driver heap stays flat-ish (no
  * accumulate-on-driver cliff), and skew stays bounded.
  *
  * Telemetry notes:
  *   - peak driver heap is sampled at 25 ms by a daemon thread, with a
  *     System.gc() before each operator so the peak attributes to the
  *     operator, not the previous one's garbage;
  *   - task skew = max/median successful-task duration within a stage
  *     (stages with ≥4 tasks), worst over the operator's stages — the
  *     number that exposes a salting/banding failure at scale;
  *   - every operator materializes via count()/localCheckpoint so the
  *     wall covers the full job chain, not a lazy plan.
  */
object ScaleR19 {

  /** The worst-skew reading of one operator, with enough structured
    * facts that a reading above the bar is MACHINE-attributable from the
    * record alone (r19 verdict #4 — the 99.44/104.77 readings needed
    * prose): max and median task millis of the worst stage, the max
    * task's share of the op wall, and whether the max task launched in
    * the stage's first scheduling wave (the signature of one-time
    * per-JVM costs — Janino codegen compile, first artifact-footer
    * read — which land in an initial task, not in the data). */
  private final case class SkewReading(skew: Double, stages: Int,
      stageName: String, maxTaskMs: Long, medianTaskMs: Long,
      firstWave: Boolean, stageTasks: Int)

  /** The worst material stage of the recorder's window: max/median
    * task-duration skew over stages with >=4 successful tasks and a max
    * task >=500 ms (sub-second scheduling jitter on tiny stages does not
    * read as data skew), with that stage's structured facts. `stages`
    * counts every stage that ran a task in the window. */
  private def worstSkew(rec: RunRecorder): SkewReading = {
    val snap = rec.stages.values.toSeq.map(s => (s, s.taskTimes))
      .filter(_._2.nonEmpty)
    val perStage = snap
      .filter { case (_, ds) => ds.length >= 4 && ds.map(_._1).max >= 500L }
      .map { case (st, ds) =>
        val durs = ds.map(_._1).sorted
        val med = math.max(durs(durs.length / 2), 1L)
        val maxTask = ds.maxBy(_._1)
        // first scheduling wave = launched within 50 ms of the stage's
        // earliest launch (local[32] starts a whole wave together)
        val firstWave = maxTask._2 <= ds.map(_._2).min + 50L
        (durs.last.toDouble / med.toDouble, st, durs.last, med, firstWave,
          ds.length)
      }
    if (perStage.isEmpty)
      SkewReading(1.0, snap.size, "", 0L, 0L, firstWave = false, 0)
    else {
      val (sk, st, mx, med, fw, nt) = perStage.maxBy(_._1)
      SkewReading(sk, snap.size, st.name.takeWhile(_ != '\n').take(80),
        mx, med, fw, nt)
    }
  }

  /** Locale.ROOT numeric formatting: the record is parsed as JSON
    * (tools/merge_scale.py), and a comma-decimal default locale would
    * emit `"wall_s":12,34` and invalidate it. */
  private def num(fmt: String, v: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(v))

  /** 25 ms driver-heap peak sampler; `mark()` resets the peak to the
    * current usage so each operator's reading attributes to it and not to
    * the previous operator's garbage. */
  private final class HeapSampler extends Thread {
    setDaemon(true)
    @volatile private var peak = 0L
    @volatile private var running = true
    def mark(): Unit = peak = used()
    def peakMb: Long = peak >> 20
    private def used(): Long = {
      val r = Runtime.getRuntime; r.totalMemory() - r.freeMemory()
    }
    override def run(): Unit = while (running) {
      val u = used(); if (u > peak) peak = u; Thread.sleep(25)
    }
    def shutdown(): Unit = running = false
  }

  /** The structured attribution verdict stamped next to every skew
    * number: `even` (below the 3x bar), `first_task_one_time_cost`
    * (outlier launched in the first wave of a stage WIDER than the
    * scheduler — per-JVM warmup, codegen compile, first artifact read),
    * `immaterial` (max task under 5% of the op wall — a sub-second
    * straggler cannot bottleneck this op at scale),
    * `indeterminate_small_stage` (the stage has at most `slots` tasks,
    * so EVERY task launches in the first wave and launch order carries
    * no one-time-cost signal — merge_scale.py resolves these cross-SF:
    * a max task that stays flat while rows grow 10x is a fixed cost,
    * one that grows with rows is volume-driven), or `data_skew` (the
    * reading that would demand a salting/banding fix). Heuristic, but
    * each verdict's inputs are in the record beside it. */
  private def attributeSkew(r: SkewReading, wallS: Double, slots: Int): String =
    if (r.skew <= 3.0) "even"
    else if (r.firstWave && r.stageTasks > slots) "first_task_one_time_cost"
    else if (r.maxTaskMs < 0.05 * wallS * 1000.0) "immaterial"
    else if (r.stageTasks <= slots) "indeterminate_small_stage"
    else "data_skew"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val outJson = if (args.length > 1) args(1) else "/tmp/scale_probe.json"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "64")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val recorder = new RunRecorder
    spark.sparkContext.addSparkListener(recorder)
    val sampler = new HeapSampler; sampler.start()

    def t(name: String): DataFrame = GraftIO.readParquet(spark, s"$sfDir/$name.parquet")
    val results = ArrayBuffer.empty[String]

    def op(name: String)(body: => Long): Unit = {
      System.gc(); Thread.sleep(300)
      recorder.reset(); sampler.mark()
      val t0 = System.nanoTime()
      val out =
        try body
        catch { case e: Throwable =>
          println(s"[scale] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          results += s""""$name":{"err":"${e.getClass.getSimpleName}"}"""
          return
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // settle the async listener bus: task-end events for the op's final
      // tasks can still be in flight when the action returns — reading
      // (and the NEXT op's reset) before they land would misattribute them
      recorder.drain(spark.sparkContext)
      val r = worstSkew(recorder)
      val attribution = attributeSkew(r, wall, slots = cpus.toInt)
      val peak = sampler.peakMb
      println(f"[scale] $name%-22s ${wall}%8.1f s  peak=${peak}%5d MB  " +
        f"skew=${r.skew}%5.2f ($attribution)  stages=${r.stages}%3d  " +
        f"out=$out%d  [${r.stageName}]")
      val stageJson = r.stageName.replace("\\", "").replace("\"", "'")
      results += s""""$name":{"wall_s":${num("%.2f", wall)},""" +
        s""""peak_driver_mb":$peak,""" +
        s""""max_task_skew":${num("%.2f", r.skew)},""" +
        s""""skew_attribution":"$attribution",""" +
        s""""skew_max_task_ms":${r.maxTaskMs},""" +
        s""""skew_median_task_ms":${r.medianTaskMs},""" +
        s""""skew_wall_frac":${num("%.3f", if (wall > 0) r.maxTaskMs / 1000.0 / wall else 0.0)},""" +
        s""""skew_first_wave":${r.firstWave},""" +
        s""""skew_stage_tasks":${r.stageTasks},"skew_stage":"$stageJson",""" +
        s""""stages":${r.stages},"rows_out":$out}"""
    }

    val docs = t("documents").select("doc_id", "text")
    val emb = t("embeddings").select("vec_id", "embedding")
    val li = t("lineitem")
    val nDocs = docs.count(); val nEmb = emb.count(); val nLi = li.count()
    println(s"[scale] $sfDir: docs=$nDocs emb=$nEmb lineitem=$nLi " +
      s"shuffle=$shuffleParts cpus=$cpus heap=${Runtime.getRuntime.maxMemory >> 20}MB")

    def idOffset(df: DataFrame, c: String): Long =
      df.agg(coalesce(max(col(c)) + 1, lit(0L))).first().getLong(0)
    val off = idOffset(docs, "doc_id")
    // the incremental-batch fixture every serve-path op shares: 1/15 of
    // the corpus as truncated near-copies + reversed novels
    val incoming = docs.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + off).as("doc_id"),
        expr("substring(text, 1, greatest(length(text) - 10, 20))").as("text"))
      .unionByName(docs.filter(col("doc_id") % 30 === 1)
        .select((col("doc_id") + off).as("doc_id"),
          reverse(col("text")).as("text")))

    val idxTmp = s"/tmp/scale_r19_idx_${System.nanoTime()}"
    // the probe's index/layout fixtures are multi-GB at sf10 — delete
    // them even on a crashed run (r19 advice: leaked per-run /tmp dirs)
    try {

    // r=4 banding (64 hashes / 16 bands) + shingleLen=10 at BOTH SFs: the
    // scale-appropriate choices the operators' own candidate pricing
    // points to. r=2 measured ~53M candidate pairs at sf10 (random band
    // collisions grow superlinearly at fixed band width); r=4 keeps the
    // recall envelope at 98.8% for tau=0.7 with ~linear candidates. The
    // default 5-char shingles are collision-bound over this corpus's
    // ~40-word vocabulary (23.2M candidates -> 25.6k real pairs at sf10,
    // 99.9% false); 10-char shingles verify the IDENTICAL 25,600 pairs in
    // 22 s instead of 91 (measured in round 19 by a per-stage density
    // probe that has since been deleted) — shingle
    // length must exceed the corpus's collision scale, the knob a real
    // pipeline tunes first.
    op("dedup_index_build") {
      DedupIndex.build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", idxTmp, numHashes = 64, bands = 16, shingleLen = 10)
      DedupIndex.append(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", idxTmp)
      DedupIndex.compact(spark, idxTmp)
    }
    op("dedup_index_search") {
      DedupIndex.minhashNewAgainst(spark, idxTmp, incoming,
        "doc_id", "text", threshold = 0.7).count()
    }
    op("minhash_new_against") {
      Dedup.minhashNewAgainst(docs, incoming, "doc_id", "text",
        numHashes = 64, bands = 16, shingleLen = 10, threshold = 0.7).count()
    }
    op("semdedup") {
      val dups = emb.select((col("vec_id") + idOffset(emb, "vec_id")).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      // k sized to hold ~1250 vectors/cluster at every SF — the paper's
      // production discipline (fixed cluster SIZE, not fixed k): a fixed
      // k=32 at sf10 put every cluster over maxClusterSize and spent the
      // wall in split rounds rather than clustering
      val kk = math.max(32, (2 * nEmb / 1250).toInt)
      SemDedup.semanticDedup(emb.unionByName(dups), "vec_id", "embedding",
        k = kk, tau = 0.9).count()
    }
    op("leakage_safe_split") {
      Split.leakageSafeSplit(docs, "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        threshold = 0.5, bands = 16, shingleLen = 10).count()
    }
    op("zorder_layout") {
      Layout.zorderWrite(
        li.select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
        Seq("l_partkey", "l_orderkey"), s"$idxTmp/z", numFiles = 16, bits = 6)
      GraftIO.readParquet(spark, s"$idxTmp/z").count()
    }
    op("text_index") {
      import spark.implicits._
      Retrieval.buildTextIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$idxTmp/txt")
      Retrieval.appendTextIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", s"$idxTmp/txt")
      Retrieval.compactTextIndex(spark, s"$idxTmp/txt")
      // queries drawn from the corpus itself so the serve path hits real
      // postings (an out-of-vocabulary query prunes to nothing and would
      // measure an empty serve)
      val q = docs.orderBy("doc_id").limit(4)
        .select(col("doc_id").as("qid"),
          expr("substring(text, 1, 60)").as("qtext"))
      Retrieval.searchTextIndex(spark, s"$idxTmp/txt", q, "qid", "qtext", k = 10).count()
    }
    op("ivfpq_index") {
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
        s"$idxTmp/pq", nlist = 16, m = 16, codebookSize = 32, maxIter = 5)
      val q = emb.filter(col("vec_id") < 10)
      Similarity.searchIvfPqIndex(spark, s"$idxTmp/pq", q, "vec_id", "embedding",
        k = 5, nprobe = 10, rerankFactor = 20, rerank = Some(emb)).count()
    }
    op("pack_sequences") {
      Pack.packSequences(
        docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 512L).count()
    }
    // the curation path: segment dedup -> quality gate -> decontaminate
    // -> per-key top-fraction mixture, chained the way a training-data
    // pipeline runs them
    op("curation_chain") {
      val seg = TextAnalysis.dedupSegmentsKeepFirst(docs, "doc_id", "text", ". ")
      val bench = docs.filter(col("doc_id") % 997 === 0).select("text")
      val clean = TextAnalysis.decontaminate(seg, "doc_id", "text",
        bench, "text", n = 40)
      val scored = clean.withColumn("score",
        TextAnalysis.tokenCount(col("text")).cast("double"))
        .withColumn("lang", (col("doc_id") % 13).cast("string"))
      ScoreFilter.keepTopFractionPerKey(scored, Seq("lang"), "score",
        Map("0" -> 0.5), 0.1, Seq("doc_id")).count()
    }

    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxTmp))
    }
    sampler.shutdown()
    val line =
      s"""{"sf_dir":"$sfDir","docs":$nDocs,"embeddings":$nEmb,""" +
        s""""lineitem":$nLi,"cpus":$cpus,"shuffle_partitions":$shuffleParts,""" +
        s""""heap_mb":${Runtime.getRuntime.maxMemory >> 20},""" +
        s""""ops":{${results.mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line + "\n")
    println(line)
    spark.stop()
  }
}
