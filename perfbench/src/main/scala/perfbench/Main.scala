package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark harness: one seeded workload, one JVM, Spark local[N],
  * a closed loop with a single client (each CLI call starts when the
  * previous one and its check have finished).
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --cores <N> --work <dir>
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` attaches the
  * benchmark's listener, alternates traced and untraced passes, runs the
  * per-layer suite ([[Layers]]) and prints the per-layer metrics. The last
  * stdout line is the result JSON. */
object Main {
  /** Unmeasured passes before the measured ones. A JVM's first pass runs
    * JIT-cold (the same op is up to twice as slow), and the JIT keeps
    * compiling for 90 s or more, longer than a run can afford, so every run
    * measures the same passes of that slope. Measured from the third pass
    * on, runs spread less than from the second (README.md). */
  val WarmupPasses = 2
  /** An untraced run measures at least this many passes and reports
    * medians; a traced run measures at least one traced and one untraced. */
  val MinMeasuredPasses = 3
  val MinTracedPasses = 2

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors), need("work"))
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $msg")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Geometric mean: every value weighs the same in relative terms, so a
    * faster short call shows as much as a faster long one. */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    val spark = session(o)
    val code =
      try { println(run(o, spark)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    System.exit(code)
  }

  private def run(o: Opts, spark: SparkSession): String = {
    val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    val genRoot = s"${o.work}/gen/v${Inputs.Version}"
    val runDir = s"${o.work}/run/$runId"
    val tracer = new Tracer(runId, enabled = o.trace)
    val recorder = if (o.trace) Some(new Recorder(spark.sparkContext)) else None
    val runner = new Runner(spark, tracer, recorder)
    try {
      log("session up")
      val w = Workload(o.workload, spark, genRoot, runDir, o.seed, small = false)
      log(f"inputs ready (generated in ${w.genSeconds}%.1f s)")
      require(w.passLimit >= WarmupPasses + MinMeasuredPasses,
        s"${w.name} allows only ${w.passLimit} passes")
      (0 until WarmupPasses).foreach { k =>
        runner.pass(w, k, s"$runDir/warmup-$k", traced = false, check = false)
        Fs.delete(s"$runDir/warmup-$k")
      }
      log("warm-up done")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - w.genSeconds

      val passes = mutable.ArrayBuffer.empty[PassResult]
      val t0 = System.nanoTime()
      def dir(i: Int) = s"$runDir/pass-$i"
      // traced runs alternate traced and untraced passes (the difference is
      // the tracing overhead); untraced runs never attach the listener
      val minPasses = if (o.trace) MinTracedPasses else MinMeasuredPasses
      while ((passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) &&
             WarmupPasses + passes.size < w.passLimit) {
        val i = passes.size
        if (i > 0) Fs.delete(dir(i - 1))
        passes += runner.pass(w, WarmupPasses + i, dir(i), traced = o.trace && i % 2 == 0)
        log(f"pass $i: ${passes.last.wall}%.2f s")
      }
      val ran = WarmupPasses + passes.size
      val closing = w.finish(ran).map(runner.op(_))
      val outRatio = w.outBytesPerInputByte(dir(passes.size - 1), ran)
      val untraced = passes.filterNot(_.traced)
      val ops = passes.flatMap(_.ops.map(_.seconds)).toSeq
      val info = Seq("gen_s" -> w.genSeconds, "passes" -> passes.size.toDouble,
        "ops" -> ops.size.toDouble, "input_rows" -> w.inputRows.toDouble,
        "finish_s" -> closing.map(_.seconds).sum) ++
        (passes.flatMap(_.ops) ++ closing).groupBy(_.command).toSeq.sortBy(_._1).map {
          case (c, rs) => s"op_p50_s.$c" -> median(rs.map(_.seconds).toSeq) }

      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) {
          // the median pass: each op's median over the measured passes, so
          // a stall in one call of one pass moves no metric
          val opMedians = passes.toSeq.map(_.ops.map(_.seconds)).transpose.map(median)
          val wall = opMedians.sum
          Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"),
            ("rows_per_s", w.inputRows / wall, "rows/s"),
            ("op_geomean_s", geomean(opMedians), "s"),
            ("out_bytes_per_input_byte", outRatio, "B/B"))
        } else {
          val traced = passes.filter(_.traced).toSeq
          val counters = traced.map(_.spark.get.toMap)
          val sparkMetrics = counters.head.keys.toSeq.sorted.map { k =>
            (s"spark.$k", median(counters.map(_(k))), SparkUnits(k)) }
          val overhead = median(traced.map(_.wall)) - median(untraced.map(_.wall).toSeq)
          val layers = Layers.run(spark, genRoot, o.seed, runner, traced.head, w.name,
            s"$runDir/layers")
          sparkMetrics ++ layers ++ Seq(
            ("jvm.gc_s", median(traced.map(_.gcSeconds)), "s"),
            ("trace.overhead_s", overhead, "s"))
        }
      if (o.trace) tracer.writeJson(s"${o.work}/trace-${o.workload}-s${o.seed}.json")
      runner.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
      println("info " + info.map { case (k, v) => s"$k=${Json.num(v)}" }.mkString(" "))
      val ms = metrics.map { case (k, v, u) =>
        s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
      s"""{"correct": ${runner.failed == 0}, "attempted": ${runner.attempted}, """ +
        s""""failed": ${runner.failed}, "metrics": {${ms.mkString(", ")}}}"""
    } finally Fs.delete(runDir)
  }

  val SparkUnits: Map[String, String] = Map(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_s_sum" -> "s",
    "task_skew" -> "ratio", "shuffle_read_bytes" -> "B", "shuffle_write_bytes" -> "B",
    "spill_bytes" -> "B", "input_records" -> "count", "cached_bytes_peak" -> "B",
    "driver_only_s" -> "s")
}

final case class OpResult(command: String, seconds: Double, leakedRdds: Int, span: Span)

final case class PassResult(wall: Double, ops: Seq[OpResult], gcSeconds: Double,
                            traced: Boolean, spark: Option[SparkCounters])

/** Runs ops and passes, counts attempts and failures, and keeps each CLI
  * call isolated: after the call's span it records the RDDs the call left
  * persisted, then clears the cache so the next call cannot hit it. */
final class Runner(spark: SparkSession, val tracer: Tracer, val recorder: Option[Recorder]) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMillis: Long = collectors.map(_.getCollectionTime).sum

  private def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Counts one attempted op; a non-empty `problems` makes it a failed one. */
  def record(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      failures ++= problems.map(p => s"$what: $p")
    }
  }

  def op(o: Op, check: Boolean = true): OpResult = {
    val t0 = System.nanoTime()
    val (err, span) = tracer.span(s"cli.${o.command}") {
      try { graft.cli.Graft.run(o.args, spark); None }
      catch { case e: Exception => Some(e) }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val leaked = spark.sparkContext.getPersistentRDDs.size
    isolate()
    val problems = err match {
      case Some(e) => Seq(s"threw $e")
      case None if check =>
        try o.check()
        catch { case e: Exception => Seq(s"check threw $e") }
      case None => Nil
    }
    record(o.args.mkString(" "), problems)
    Main.log(f"  ${o.args.take(3).mkString(" ")}: $seconds%.2f s, leaked $leaked")
    OpResult(o.command, seconds, leaked, span)
  }

  /** Pass `k` of `w` into `dir`. A traced pass attaches the listener and
    * folds the Spark events inside its CLI spans into counters. Warm-up
    * passes skip the output checks (a call that throws still fails). */
  def pass(w: Workload, k: Int, dir: String, traced: Boolean,
           check: Boolean = true): PassResult = {
    Fs.delete(dir)
    isolate()
    System.gc()
    val gc0 = gcMillis
    recorder.foreach { r =>
      if (traced) { spark.sparkContext.addSparkListener(r); r.resetCachePeak() }
    }
    val (ops, _) = tracer.span(s"pass.${w.name}")(w.ops(k, dir).map(op(_, check)))
    val gc = (gcMillis - gc0) / 1e3
    val counters = recorder.filter(_ => traced).map { r =>
      r.drain()
      spark.sparkContext.removeSparkListener(r)
      val c = r.window(ops.map(o => (o.span.startMs, o.span.endMs)))
      ops.foreach(o => tracer.annotate(o.span,
        r.window(Seq((o.span.startMs, o.span.endMs))).toMap))
      c
    }
    PassResult(ops.map(_.seconds).sum, ops, gc, traced, counters)
  }
}
