package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

object Bench {

  /** Contamination thresholds for the canonical durable record: a bench
    * that is not a ≥3-run median, or that started on a loaded machine
    * (1-min loadavg past 1.5 on this 32-core box ≈ something else
    * running), or that shares the machine with another JVM (an sbt
    * server, a racing bench, a judge process — measured 2-4× inflation
    * on shuffle-heavy gates in r13/r14), must NOT overwrite the
    * committed idle record. */
  private[graft] val MinCanonicalRuns = 3
  private[graft] val MaxCanonicalLoadavg = 1.5

  /** Parallel-channel contention bar for the canonical record. The mcpu
    * calibration loop is pure register work, so on healthy dedicated
    * cores `calib_mcpu_s / calib_cpu_s` sits near 1 (observed idle runs:
    * 1.02–1.09; the committed canonical records stamp 1.063 and 1.023);
    * host-level neighbor contention pushes it to 1.9–2.6 (the r21 driver
    * bench ran at 2.57 and its 8-core pass beat its 32-core pass — a
    * physical impossibility on a quiet host). A run whose multi-core
    * channel is >15% degraded at EITHER suite start or suite end cannot
    * claim to be the idle canonical record; it diverts to the _loaded
    * sibling exactly like loadavg/sibling-JVM contamination (the r20/r21
    * verdicts' promote-to-divert ask). */
  private[graft] val MaxCanonicalMtRatio = 1.15

  /** The heap the committed canonical records were measured under
    * (-Xmx8g → 8192 MB as stamped). Heap size is a bench VARIABLE:
    * -Xmx48g measured 1.7× slower medians with 8× the spread on the
    * memory-heavy sf1 gates (GC profile), so a record taken under a
    * different heap is not comparable and must not overwrite the
    * canonical file. The small band absorbs GC-flavor rounding of
    * Runtime.maxMemory, nothing more. */
  private[graft] val CanonicalHeapMb = 8192L
  private[graft] val CanonicalHeapBandMb = 256L

  /** Where this bench's durable JSON line goes. A subset run is diverted
    * to a `_partial` sibling (it is not the suite); a full run whose
    * environment stamps fail the canonical bar is diverted to a
    * `_loaded` sibling — the canonical path is only ever written by an
    * idle median-of-≥3 full-suite run under the canonical heap, so a
    * driver single-pass, a locally-contaminated run, or a fat-heap
    * experiment can never clobber the committed record (the r14/r15
    * failure mode). Unreadable probes (negative loadavg or sibling
    * count) divert too: a record that cannot PROVE it was idle is not
    * canonical. */
  private[graft] def benchOutputFile(requested: String, partial: Boolean,
                                     runs: Int, loadavgStart: Double,
                                     siblingJvms: Long,
                                     heapMb: Long = CanonicalHeapMb,
                                     mtRatio: Double = 1.0): String = {
    val suffix =
      if (partial) Some("_partial")
      else if (runs < MinCanonicalRuns || loadavgStart < 0.0 ||
        loadavgStart > MaxCanonicalLoadavg || siblingJvms != 0L ||
        math.abs(heapMb - CanonicalHeapMb) > CanonicalHeapBandMb ||
        mtRatio < 0.0 || mtRatio > MaxCanonicalMtRatio)
        Some("_loaded")
      else None
    suffix match {
      case None => requested
      case Some(sfx) =>
        if (requested.endsWith(".json"))
          requested.stripSuffix(".json") + sfx + ".json"
        else requested + sfx
    }
  }

  /** Gates whose run-to-run spread regressed past `factor`× the
    * committed canonical record's spread for the same gate (ignoring
    * spreads under `floorSec` — sub-second dispersion on short gates is
    * scheduling noise, not a variance regression). The r16 variance
    * episode (a gate quietly going 12.7 s ± 50 s) motivates this:
    * variance regressions must self-identify in the record the way
    * contamination now does, not wait for a judge diff. */
  private[graft] def spreadRegressions(current: Map[String, Double],
                                       committed: Map[String, Double],
                                       factor: Double = 2.0,
                                       floorSec: Double = 1.0): Seq[String] =
    current.toSeq.sortBy(_._1).collect {
      case (gate, sp) if sp >= floorSec &&
        committed.get(gate).exists(c => sp > factor * math.max(c, floorSec / factor)) =>
        gate
    }

  /** The top-level JSON object of a committed record, or None when the
    * file is absent, unreadable or not a JSON object. Lookups go through
    * the parsed tree, so a same-named key nested deeper or quoted inside
    * a string value can never be misread as a top-level field. */
  private def committedRecord(path: String): Option[JsonNode] =
    try Option(new ObjectMapper().readTree(new java.io.File(path))).filter(_.isObject)
    catch { case _: Exception => None }

  /** The per-gate "spread" object of a committed bench record. Empty
    * when the file is absent or carries no spread. */
  private[graft] def committedSpreads(path: String): Map[String, Double] =
    committedRecord(path).flatMap(r => Option(r.get("spread")))
      .filter(_.isObject).toSeq
      .flatMap(_.properties.asScala.collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble })
      .toMap

  /** Machine-speed calibration: a fixed, deterministic, single-thread
    * mixing loop timed as min-of-3 (min, not median — the statistic of
    * interest is the machine's UNLOADED speed, and any contamination
    * only ever makes a pass slower). Stamped into every record as
    * `calib_cpu_s`, so a cross-session wall-time drift (the r17 +11%
    * sf0.1 episode, attributed to machine drift but unprovable from the
    * record) becomes attributable: same calib = code regression,
    * shifted calib = machine. The loop's work is data-independent and
    * JIT-warmed by its own first pass; ~0.5 s per pass on the reference
    * box. */
  private[graft] def calibrateCpuSeconds(iters: Int = 200000000): Double = {
    def pass(n: Int): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < n) {
        h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 31) ^ (h >>> 17)
        i += 1
      }
      // keep h observable so the loop cannot be eliminated
      if (h == 42L) System.err.println("[bench] calib fixed point (harmless)")
      (System.nanoTime() - t0) / 1e9
    }
    pass(iters / 20) // untimed JIT warm of the same loop body
    Seq(pass(iters), pass(iters), pass(iters)).min
  }

  /** PARALLEL-channel machine calibration: the same mixing loop run on
    * `threads` cores simultaneously, min-of-3 of the join-to-join wall.
    * The loop is pure register work (no memory traffic), so on dedicated
    * cores the parallel wall ≈ the single-thread wall; a ratio
    * `calib_mcpu_s / calib_cpu_s` meaningfully above 1 is host-level
    * core contention (a noisy VM neighbor, a frequency cap under
    * all-core load) that NEITHER existing channel can see — measured in
    * r20: a session where calib_cpu_s/calib_shuffle_s both sat at
    * committed levels while every 32-thread gate inflated ~15-20%
    * uniformly (cpu-bound and io-bound buckets alike, two independent
    * median-of-3 runs agreeing) showed mt-ratio 1.11. Stamped into every
    * record (`calib_mcpu_s`, with `calib_mcpu_threads` naming the
    * fan-out — the host's available processors, NOT a hardcoded 32:
    * oversubscribing a smaller box would read as phantom contention) so
    * that failure mode self-identifies; once a few rounds establish the
    * healthy-host distribution, it can be promoted to a divert
    * criterion like loadavg/siblings. */
  private[graft] def calibrateMcpuSeconds(iters: Int = 200000000,
                                          threads: Int =
                                            Runtime.getRuntime.availableProcessors()): Double = {
    def pass(n: Int): Double = {
      val ts = (0 until threads).map { _ =>
        new Thread(() => {
          var h = 0x9E3779B97F4A7C15L
          var i = 0
          while (i < n) {
            h = java.lang.Long.rotateLeft(h * 0x100000001B3L, 31) ^ (h >>> 17)
            i += 1
          }
          if (h == 42L) System.err.println("[bench] mcpu calib fixed point (harmless)")
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start())
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pass(iters / 20) // untimed JIT/scheduler warm
    Seq(pass(iters), pass(iters), pass(iters)).min
  }

  /** Numeric TOP-LEVEL stamp `key` of the committed record at `path`,
    * absent-safe. */
  private[graft] def committedStamp(path: String, key: String): Option[Double] =
    committedRecord(path).flatMap(r => Option(r.get(key)))
      .filter(_.isNumber).map(_.asDouble)

  /** `calib_cpu_s` of the committed record at `path`, absent-safe. */
  private[graft] def committedCalib(path: String): Option[Double] =
    committedStamp(path, "calib_cpu_s")

  /** Calibration-normalized wall: `wall × committedShuffle / runShuffle`.
    * Per-channel, shuffle channel only — the r18 session measured
    * calib_cpu_s steady (0.312–0.317) while calib_shuffle_s swung ±13%
    * with the wall drift concentrated exactly in the shuffle-heavy gates,
    * so the shuffle channel is the one that confounds round-over-round
    * wall comparisons. None when either calibration is missing or invalid
    * (pre-calibration committed record, failed probe): a reader must fall
    * back to the raw wall rather than trust a fabricated adjustment. */
  private[graft] def normalizedWall(wall: Double, runShuffle: Double,
                                    committedShuffle: Option[Double]): Option[Double] =
    committedShuffle.filter(c => c > 0.0 && runShuffle > 0.0)
      .map(c => wall * c / runShuffle)

  /** Two-channel normalization ratio: the equal-weight blend of the cpu
    * and shuffle calib ratios (committed ÷ run on each channel). The
    * single-channel `wall_normalized` above is kept for continuity with
    * the r18/r19 records, but it mis-prices cpu-bound gates whenever the
    * two channels DIVERGE (the r19 verdict's honesty note: both drifted
    * together that round, so it happened to be fair). The blend bounds
    * that error: with no per-gate channel attribution, equal weights are
    * the honest prior — when the channels agree the blend equals either
    * one, and when they diverge no gate can be re-priced by more than
    * half the divergence. None unless BOTH channels are present and
    * positive on both sides: a silent fallback to one channel would
    * reintroduce exactly the failure mode this replaces. */
  private[graft] def blendRatio(runCpu: Double, runShuffle: Double,
                                committedCpu: Option[Double],
                                committedShuffle: Option[Double]): Option[Double] =
    for {
      cc <- committedCpu if cc > 0.0 && runCpu > 0.0
      cs <- committedShuffle if cs > 0.0 && runShuffle > 0.0
    } yield 0.5 * (cc / runCpu) + 0.5 * (cs / runShuffle)

  /** True when this run's machine speed differs from the committed
    * record's by more than `band` (default 15%): gate-time comparisons
    * between the two records are then machine-confounded and the new
    * record must say so itself (`calib_noncomparable`), the same
    * self-identification contract as the contamination stamps. */
  private[graft] def calibNonComparable(current: Double,
                                        committed: Option[Double],
                                        band: Double = 0.15): Boolean =
    current > 0.0 &&
      committed.exists(c => c > 0.0 && math.abs(current - c) / c > band)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Contamination stamps: a bench taken while other work shares the
    // machine inflates the shuffle-heavy gates 2-4x (measured r13/r14) —
    // the record must be SELF-identifying, not judge-identifying.
    // Sampled HERE, before the warmup: the stamp must measure the machine
    // AS FOUND — sampling after the warmup measured the bench's own
    // 32-core warmup load and diverted genuinely idle sf1 runs (r16).
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def siblingJvms(): Long =
      try ProcessHandle.allProcesses()
        .filter(p => p.info().command().map[Boolean](_.contains("java"))
          .orElse(false))
        .count() - 1 // minus this JVM
      catch { case _: Throwable => -1L }
    val loadStart = loadavg()
    val siblingsStart = siblingJvms()
    // machine-speed stamps, measured BEFORE the warmup like the other
    // environment probes: the machine as found, not as heated by us
    val calibCpu = calibrateCpuSeconds()
    val calibMcpuThreads = Runtime.getRuntime.availableProcessors()
    val calibMcpu = calibrateMcpuSeconds(threads = calibMcpuThreads)
    warmUp(spark)
    // shuffle-machinery calibration, AFTER the warmup (a cold-session
    // shuffle would measure class loading, not the machine): one small
    // fixed exchange, min-of-3. Secondary to calib_cpu_s — shuffle speed
    // folds in disk/page-cache state — but it is the number that moves
    // when only IO drifted.
    val calibShuffle = try {
      import org.apache.spark.sql.functions._
      def pass(): Double = {
        val t0 = System.nanoTime()
        spark.range(0, 4000000L, 1, 8)
          .select((col("id") % 4096).as("k"))
          .groupBy("k").agg(count(lit(1))).count()
        (System.nanoTime() - t0) / 1e9
      }
      Seq(pass(), pass(), pass()).min
    } catch { case _: Throwable => -1.0 }
    // drop the warmup's garbage + ContextCleaner backlog before the first
    // timed query (see the per-query isolation note below)
    System.gc()
    // optional comma-separated subset for targeted local iteration; the
    // driver leaves it unset and benches everything. Empty value = unset;
    // typo'd names are called out instead of silently benching nothing.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] unknown queries ignored: ${unknown.mkString(", ")}")
    }
    // canonical records are per-gate MEDIANS over N sequential runs
    // (SPARK_GRAFT_RUNS, default 1 — a single-pass run still prints its
    // line and lands in the _loaded sibling; only runs>=3 can write the
    // canonical file, see benchOutputFile); per-gate dispersion is
    // recorded alongside so a noisy gate can't hide inside a
    // clean-looking median
    val nRuns = sys.env.get("SPARK_GRAFT_RUNS").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(1)
    // name-sorted: Map hash order would shuffle which query runs first
    // whenever a query is added, making per-query times incomparable
    // across rounds
    val benched = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // per-gate sibling re-sampling: a racing JVM that starts after the
    // suite-start sample and exits before suite end would otherwise never
    // be observed (r16's worst-of(start,end) only caught racers alive at
    // a sample instant) — one cheap ProcessHandle scan per gate bounds
    // the blind window to a single gate's wall
    var siblingsMaxSeen = siblingsStart
    def sampleSiblings(): Unit = {
      val s = siblingJvms()
      if (s < 0 || siblingsMaxSeen < 0) siblingsMaxSeen = -1L
      else siblingsMaxSeen = math.max(siblingsMaxSeen, s)
    }
    def runSuite(): Seq[(String, Double, Boolean, Option[Double])] =
      benched.map { case (name, fn) =>
        sampleSiblings()
        SparkEntry.operatorSeconds.remove(name)
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch { case e: Throwable =>
                   System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                   false
                 }
        val dt = (System.nanoTime() - t0) / 1e9
        // gates that declare an operator-vs-audit split report the
        // shipped-operator span through SparkEntry.operatorSeconds
        val operatorS = SparkEntry.operatorSeconds.remove(name)
        // Query isolation, OUTSIDE the timed section: queries that pin data
        // (BigDiffy's cached diff relation, localCheckpoint'd dedup/ANN
        // intermediates) would otherwise leak into every later query's
        // session — measured 3-5x inflation of unrelated queries once a
        // diff relation sits in the cache manager. Each query must be
        // timed as if it ran in a fresh session.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        // Also nudge the ContextCleaner: it cleans broadcasts/shuffles/
        // RDDs only when their weak references get GC'd, so state from
        // prior queries (and the warmup) otherwise piles up until some
        // LATER query's allocations trigger the collection and absorb
        // the cleanup into ITS wall time — measured ~11s added to one
        // query after the warmup alone. An explicit collection here
        // (~0.1s, untimed) charges each query only for its own work.
        System.gc()
        (name, dt, ok, operatorS)
      }
    val runs = (1 to nRuns).map { i =>
      if (nRuns > 1) System.err.println(s"[bench] suite pass $i/$nRuns")
      runSuite()
    }
    // END-of-suite re-sample of the parallel-contention channel: the
    // start sample alone misses contention that ARRIVES mid-run (the
    // per-gate sibling scans only see other JVMs, not host-level
    // neighbors). Sampled here, after the last timed gate — it adds a
    // few untimed seconds, never touches a gate's wall — and routed on
    // the WORST of the two samples: a run contended at either end
    // cannot stand as the idle canonical record.
    val calibCpuEnd = calibrateCpuSeconds()
    val calibMcpuEnd = calibrateMcpuSeconds(threads = calibMcpuThreads)
    def mtRatioOf(cpu: Double, mcpu: Double): Double =
      if (cpu > 0.0 && mcpu > 0.0) mcpu / cpu else -1.0
    val mtStart = mtRatioOf(calibCpu, calibMcpu)
    val mtEnd = mtRatioOf(calibCpuEnd, calibMcpuEnd)
    val mtWorst =
      if (mtStart < 0.0 || mtEnd < 0.0) -1.0 else math.max(mtStart, mtEnd)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // per-gate median wall across runs; ok = every run succeeded;
    // operator-span is the median of the runs that reported one
    val results = benched.map(_._1).map { name =>
      val per = runs.map(_.find(_._1 == name).get)
      val dts = per.map(_._2)
      val ops = per.flatMap(_._4)
      (name, median(dts), per.forall(_._3),
        if (ops.nonEmpty) Some(median(ops)) else None,
        if (nRuns > 1) Some(dts.max - dts.min) else None)
    }
    // 3-decimal seconds: full-precision doubles made the one-line JSON
    // long enough to fall out of a tail buffer and fail downstream parsing.
    // Locale.ROOT everywhere: a comma-decimal default locale would emit
    // "0,394" and invalidate the JSON — including the durable bench file
    def num(fmt: String, v: Double): String =
      fmt.formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v, _, _, _) => s""""$k":${num("%.3f", v)}""" }
      .mkString("{", ",", "}")
    // a query that threw must be distinguishable from a fast success:
    // failures are listed explicitly (their recorded time is time-to-crash)
    val errs = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // operator-vs-audit split for gates that declared one: audit is the
    // remainder of the gate's wall (clamped — the spans are measured
    // independently of the total)
    val splits =
      if (results.exists(_._4.isDefined))
        "," + results.collect { case (k, v, _, Some(op), _) =>
            s""""$k":{"operator":${num("%.3f", math.min(op, v))},""" +
              s""""audit":${num("%.3f", math.max(0.0, v - op))}}""" }
          .mkString("\"splits\":{", ",", "}")
      else ""
    // per-gate max-min across the N runs: the dispersion column that
    // makes an unexplained drift visible inside the canonical record
    val spreads =
      if (nRuns > 1)
        "," + results.collect { case (k, _, _, _, Some(sp)) =>
            s""""$k":${num("%.3f", sp)}""" }
          .mkString("\"spread\":{", ",", "}")
      else ""
    // heap is stamped too: a 48 GB -Xmx measured 1.7x slower medians and
    // 8x the spread on the memory-heavy sf1 gates vs the 8 GB default
    // (GC profile), so records across heap sizes are not comparable
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    // sibling JVMs sampled at suite start, before EVERY gate, and at
    // suite end: a bench that gained a racing JVM mid-suite is
    // contaminated from that point on, and the per-gate samples bound
    // the blind window for a short-lived racer to one gate's wall.
    // Unlike loadavg (which the bench's own work inflates), the sibling
    // count is clean at every sample — routing uses the worst sample
    // seen (an unreadable probe stays unreadable).
    val siblingsEnd = siblingJvms()
    val siblingsWorst =
      if (siblingsStart < 0 || siblingsEnd < 0 || siblingsMaxSeen < 0) -1L
      else math.max(siblingsMaxSeen, siblingsEnd)
    // suite-level shipped-operator total (r21 verdict #8): per gate, the
    // declared operator span where one exists, the full wall otherwise —
    // the engine-only number a round comparison should track when audit
    // fixtures (oracle recomputes, parity joins, IO round trips) drift
    // independently of the engine. Stamped alongside `value`; the
    // per-gate splits stay in `splits`.
    val operatorTotal = results.map { case (_, v, _, op, _) =>
      op.map(o => math.min(o, v)).getOrElse(v) }.sum
    val envStamp =
      s""","operator_total":${num("%.3f", operatorTotal)}""" +
      s""","runs":$nRuns,"loadavg_start":${num("%.2f", loadStart)}""" +
        s""","loadavg_end":${num("%.2f", loadavg())}""" +
        s""","sibling_jvms":$siblingsStart""" +
        s""","sibling_jvms_end":$siblingsEnd""" +
        s""","sibling_jvms_max":$siblingsWorst,"heap_mb":$heapMb""" +
        s""","calib_cpu_s":${num("%.3f", calibCpu)}""" +
        s""","calib_mcpu_s":${num("%.3f", calibMcpu)}""" +
        s""","calib_mcpu_threads":$calibMcpuThreads""" +
        s""","calib_mt_ratio":${num("%.3f", mtStart)}""" +
        s""","calib_cpu_s_end":${num("%.3f", calibCpuEnd)}""" +
        s""","calib_mcpu_s_end":${num("%.3f", calibMcpuEnd)}""" +
        s""","calib_mt_ratio_end":${num("%.3f", mtEnd)}""" +
        s""","calib_shuffle_s":${num("%.3f", calibShuffle)}"""
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // a subset run is NOT the suite: mark it in the JSON and keep it out
    // of the durable full-suite file, so a targeted local iteration can
    // never masquerade as the round's benchmark
    val partial = only.map(names =>
      s""","partial":${names.toSeq.sorted.mkString("[\"", "\",\"", "\"]")}""")
      .getOrElse("")
    val requested = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
      "/root/repo/BENCH_queries.json")
    // routing decided BEFORE the self-identification flags: both compare
    // against the committed CANONICAL record, which is only meaningful
    // for a run eligible to stand next to it
    val benchFile = benchOutputFile(requested, partial = only.nonEmpty,
      runs = nRuns, loadavgStart = loadStart, siblingJvms = siblingsWorst,
      heapMb = heapMb, mtRatio = mtWorst)
    val diverted = benchFile != requested
    // variance self-identification: gates whose spread regressed past 2×
    // the committed canonical record's are stamped into the line (the
    // record flags its own noisy gates the way contamination stamps flag
    // a loaded machine — a verdict reader needs no cross-file diff).
    // Skipped on a diverted run: a fat-heap or loaded-machine pass has
    // structurally wider spreads (a 48 GB heap measured 8x), so flags
    // computed against the idle canonical record would be spurious noise
    // stamped into a record that already names its own contamination.
    val spreadFlag = {
      val cur = results.collect { case (k, _, _, _, Some(sp)) => k -> sp }.toMap
      val regressed =
        if (diverted) Nil
        else spreadRegressions(cur, committedSpreads(requested))
      if (diverted && cur.nonEmpty)
        System.err.println("[bench] spread-regression check skipped: run " +
          "diverts from the canonical record, so canonical spreads are " +
          "not a comparable baseline")
      if (regressed.isEmpty) ""
      else {
        System.err.println("[bench] spread regression vs committed record: " +
          regressed.mkString(", "))
        regressed.mkString(""","spread_regressed":["""", "\",\"", "\"]")
      }
    }
    // machine-speed comparability: >15% calib drift vs the committed
    // canonical record means gate-time deltas between the two records
    // are machine-confounded, and the record says so itself
    val calibFlag = {
      val nonComp = !diverted &&
        calibNonComparable(calibCpu, committedCalib(requested))
      if (nonComp) {
        System.err.println(f"[bench] machine-speed drift vs committed " +
          f"record: calib_cpu_s $calibCpu%.3f vs " +
          f"${committedCalib(requested).getOrElse(-1.0)}%.3f — gate-time " +
          "comparisons to it are machine-confounded")
        ""","calib_noncomparable":true"""
      } else ""
    }
    // calib-normalized wall vs the record this run stands next to: the
    // committed record's shuffle calib re-prices this run's wall at the
    // committed machine speed, so round-over-round deltas read directly
    // off `wall_normalized` with no hand arithmetic (r18-11's ask). The
    // raw wall stays `value`; both are in the record. Skipped on diverted
    // runs for the same reason as the spread/calib flags: a loaded
    // machine's shuffle calib is contamination-inflated, and a
    // "normalized" wall computed against a baseline the run is not
    // eligible to stand next to would read as comparable when it is not.
    val wallNorm =
      if (diverted) ""
      else normalizedWall(total, calibShuffle,
        committedStamp(requested, "calib_shuffle_s"))
        .map(w => s""","wall_normalized":${num("%.1f", w)}""").getOrElse("")
    // PER-GATE two-channel normalized walls (r19 verdict #3): each gate's
    // wall re-priced at the committed machine speed through the cpu/
    // shuffle blend, so round-over-round per-gate comparison reads
    // directly off `queries_normalized` vs the committed record's
    // `queries` — no judge-side arithmetic — and a round where the two
    // calib channels diverge cannot be mis-normalized by the wrong
    // single channel. The suite-level blend total is stamped alongside
    // (`wall_normalized_2ch`); the legacy shuffle-only `wall_normalized`
    // stays so the r18/r19 comparator chain remains readable. Skipped on
    // diverted runs for the same reason as every other committed-record
    // comparison: a contaminated run is not eligible to stand next to
    // the canonical baseline.
    val blend =
      if (diverted) None
      else blendRatio(calibCpu, calibShuffle,
        committedCalib(requested), committedStamp(requested, "calib_shuffle_s"))
    val qsNorm = blend.map { b =>
      s""","wall_normalized_2ch":${num("%.1f", total * b)}""" +
        results.map { case (k, v, _, _, _) => s""""$k":${num("%.3f", v * b)}""" }
          .mkString(""","queries_normalized":{""", ",", "}")
    }.getOrElse("")
    val line = s"""{"metric":"total","value":$total,"unit":"sec"$wallNorm$qsNorm,"n_queries":${results.size},"queries":$qs,"errors":$errs$splits$spreads$spreadFlag$calibFlag$envStamp$partial,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the full line to a file: the driver captures a bounded
    // stdout tail, and with 84 queries the one-line JSON has repeatedly
    // been truncated past parseability (r10/r11 `parsed: null`). The file
    // is the durable copy; stdout stays for interactive runs.
    // a subset run NEVER writes the caller's (or default) full-suite
    // path — even an explicit SPARK_GRAFT_BENCH_FILE is diverted to a
    // _partial sibling; a full run that fails the canonical bar (runs,
    // loadavg, sibling JVMs — see benchOutputFile) is diverted to a
    // _loaded sibling. Either way the committed idle record survives.
    if (diverted)
      System.err.println(s"[bench] record diverted to $benchFile " +
        s"(runs=$nRuns, loadavg_start=$loadStart, sibling_jvms=" +
        s"$siblingsStart/$siblingsEnd start/end, " +
        f"calib_mt_ratio=$mtStart%.3f/$mtEnd%.3f start/end" +
        s"${if (only.nonEmpty) ", subset run" else ""})" +
        " — the canonical file is written only by idle median-of-3 full runs")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(benchFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchFile: ${e.getMessage}")
    }
    spark.stop()
  }

  /** Untimed warmup over SYNTHETIC data: pays the one-time JVM/JIT,
    * whole-stage-codegen and shuffle-machinery costs so the first timed
    * query isn't charged ~7s of session warmup. Deliberately touches no
    * benched table and caches nothing, so every timed query still runs
    * cold against its own data. Shared with ProfGates, so A/B walls are
    * warmed exactly like the bench's. A warm-up-only failure (full /tmp,
    * racing bench runs) must not abort the caller — the timed queries
    * would still run fine, just colder. */
  private[graft] def warmUp(spark: SparkSession): Unit =
    try {
      import org.apache.spark.sql.functions._
      import graft.GraftFunctions._
      val warm = spark.range(200000)
        .select(col("id"), concat_ws(" ", lit("warm"), col("id").cast("string")).as("txt"))
      // every derived column must be consumed by the aggregate — an
      // unused one is pruned by Catalyst and its kernel never warms
      warm.select(fieldHash(Seq(col("id"))).as("h"),
          minhash(shingleHashes(col("txt"), 3), 16, 0).as("m"),
          simhash(col("txt"), 0).as("s"))
        .groupBy(col("h") % 64)
        .agg(count(lit(1)), min("s"), max(size(col("m")))).count()
      warm.join(warm.select(col("id"), col("txt").as("t2")), Seq("id"), "full_outer")
        .count()
      // the avro write/read path (hand-rolled avro-mapred committer) has
      // its own first-use setup; avro_roundtrip runs FIRST alphabetically
      // and used to absorb it — warm it here so per-query deltas stay
      // comparable round-over-round
      val avroWarm = "/tmp/graft_bench_avro_warm"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(avroWarm))
      graft.sources.AvroIO.write(warm.limit(1000), avroWarm)
      graft.sources.AvroIO.read(spark, avroWarm).count()
      // MLlib first use (BLAS + class loading) costs ~3 s; without this the
      // single k-means query (ivf_topk_recall) absorbs it into its timing
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val mlWarm = spark.range(256)
        .select(array_to_vector(array(col("id").cast("double"),
          (col("id") % 7).cast("double"))).as("features"))
      new KMeans().setK(4).setSeed(1L).setMaxIter(2).fit(mlWarm)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(avroWarm))
    } catch {
      case e: Throwable => System.err.println(s"[bench] warmup failed " +
        s"(continuing with cold-start noise): ${e.getMessage}")
    }
}
