package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The canonical-record protection contract: only an idle median-of-≥3
  * full-suite run may write the committed durable bench file; every
  * other shape diverts to a self-describing sibling. Pure logic — no
  * Spark session. */
class BenchSpec extends AnyFlatSpec with Matchers {

  private val canon = "/root/repo/BENCH_queries.json"

  behavior of "Bench.benchOutputFile"

  it should "write the canonical path only for an idle median-of-3 full run" in {
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.4, siblingJvms = 0L) shouldBe canon
    // more runs are fine too
    Bench.benchOutputFile(canon, partial = false, runs = 5,
      loadavgStart = 1.5, siblingJvms = 0L) shouldBe canon
  }

  it should "divert a single-pass run to the _loaded sibling" in {
    // the r15 driver shape: runs=1 on a loaded machine overwrote the
    // committed record — this is exactly the write that must divert
    Bench.benchOutputFile(canon, partial = false, runs = 1,
      loadavgStart = 4.25, siblingJvms = 1L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    // even an OTHERWISE idle single pass is not a canonical median
    Bench.benchOutputFile(canon, partial = false, runs = 1,
      loadavgStart = 0.1, siblingJvms = 0L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
  }

  it should "divert on load or sibling JVMs alone" in {
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 1.51, siblingJvms = 0L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 1L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
  }

  it should "divert when the environment probes are unreadable" in {
    // a record that cannot prove it was idle is not canonical
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = -1.0, siblingJvms = 0L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = -1L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
  }

  it should "divert a subset run to _partial before any load check" in {
    Bench.benchOutputFile(canon, partial = true, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L) shouldBe
      "/root/repo/BENCH_queries_partial.json"
    // subset + loaded is still _partial: the record is non-canonical for
    // the stronger reason (it isn't the suite at all)
    Bench.benchOutputFile(canon, partial = true, runs = 1,
      loadavgStart = 9.0, siblingJvms = 2L) shouldBe
      "/root/repo/BENCH_queries_partial.json"
  }

  it should "suffix non-.json paths directly" in {
    Bench.benchOutputFile("/tmp/bench_out", partial = false, runs = 1,
      loadavgStart = 0.1, siblingJvms = 0L) shouldBe "/tmp/bench_out_loaded"
  }

  it should "divert a run under a non-canonical heap" in {
    // records across heap sizes are not comparable (-Xmx48g measured
    // 1.7x slower medians, 8x the spread): an idle median-of-3 under a
    // fat heap must not overwrite the committed 8 GB record
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, heapMb = 49152L) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    // GC-flavor rounding of Runtime.maxMemory stays canonical
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, heapMb = 8064L) shouldBe canon
  }

  it should "divert a run whose parallel-contention channel is degraded" in {
    // the r21 driver bench shape: calm loadavg at start, but the mcpu
    // channel read 2.57x the single-thread channel — host-level neighbor
    // contention neither loadavg nor the sibling-JVM scan can see
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, mtRatio = 2.57) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    // just past the bar diverts; the healthy band (committed records
    // stamp 1.023-1.063) stays canonical
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, mtRatio = 1.16) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, mtRatio = 1.09) shouldBe canon
    // an unreadable calibration cannot prove the run was quiet
    Bench.benchOutputFile(canon, partial = false, runs = 3,
      loadavgStart = 0.2, siblingJvms = 0L, mtRatio = -1.0) shouldBe
      "/root/repo/BENCH_queries_loaded.json"
  }

  behavior of "Bench.spreadRegressions"

  it should "flag gates whose spread regressed past 2x the committed record" in {
    val committed = Map("a" -> 1.0, "b" -> 4.0, "tiny" -> 0.05)
    // a: 1.0 -> 2.5 (2.5x) flagged; b: 4.0 -> 6.0 (1.5x) not;
    // tiny: 0.05 -> 0.4 is sub-floor noise, not a regression
    Bench.spreadRegressions(
      Map("a" -> 2.5, "b" -> 6.0, "tiny" -> 0.4), committed) shouldBe Seq("a")
    // a gate absent from the committed record (new gate) is never flagged
    Bench.spreadRegressions(Map("new_gate" -> 30.0), committed) shouldBe Seq()
    // a committed near-zero spread cannot make any jitter a "regression":
    // the floor bounds the denominator
    Bench.spreadRegressions(Map("tiny" -> 0.9), committed) shouldBe Seq()
    Bench.spreadRegressions(Map("tiny" -> 1.1), committed) shouldBe Seq("tiny")
    // deterministic order for the stamped JSON
    Bench.spreadRegressions(
      Map("b" -> 40.0, "a" -> 40.0), committed) shouldBe Seq("a", "b")
  }

  behavior of "Bench.calibNonComparable"

  it should "flag >15% machine-speed drift against the committed record" in {
    // 0.50 -> 0.60 is +20%: the records are machine-confounded
    Bench.calibNonComparable(0.60, Some(0.50)) shouldBe true
    Bench.calibNonComparable(0.40, Some(0.50)) shouldBe true
    // within the band: comparable
    Bench.calibNonComparable(0.55, Some(0.50)) shouldBe false
    Bench.calibNonComparable(0.50, Some(0.50)) shouldBe false
    // no committed calib (pre-calibration record) or unreadable probes:
    // nothing to compare against, never flagged
    Bench.calibNonComparable(0.50, None) shouldBe false
    Bench.calibNonComparable(-1.0, Some(0.50)) shouldBe false
    Bench.calibNonComparable(0.50, Some(-1.0)) shouldBe false
  }

  it should "parse calib_cpu_s from a committed record, absent-safe" in {
    val f = java.nio.file.Files.createTempFile("benchspec_calib", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":9.9,"calib_cpu_s":0.512,""" +
        """"calib_shuffle_s":0.9,"runs":3}""" + "\n")
    Bench.committedCalib(f.toString) shouldBe Some(0.512)
    Bench.committedCalib("/nonexistent/path.json") shouldBe None
    java.nio.file.Files.writeString(f, """{"metric":"total","value":1.0}""")
    Bench.committedCalib(f.toString) shouldBe None
    java.nio.file.Files.delete(f)
  }

  behavior of "Bench.normalizedWall"

  it should "re-price the wall at the committed shuffle-calib speed" in {
    // run twice as slow as the committed machine (0.4 vs 0.2): the
    // normalized wall halves the raw number
    Bench.normalizedWall(100.0, 0.4, Some(0.2)) shouldBe Some(50.0)
    // run faster than committed: normalization raises the wall
    Bench.normalizedWall(100.0, 0.1, Some(0.2)) shouldBe Some(200.0)
    // same speed: identity
    Bench.normalizedWall(100.0, 0.2, Some(0.2)) shouldBe Some(100.0)
  }

  it should "refuse to normalize against missing or invalid calibs" in {
    Bench.normalizedWall(100.0, 0.4, None) shouldBe None
    Bench.normalizedWall(100.0, -1.0, Some(0.2)) shouldBe None
    Bench.normalizedWall(100.0, 0.4, Some(-1.0)) shouldBe None
    Bench.normalizedWall(100.0, 0.0, Some(0.2)) shouldBe None
  }

  it should "parse calib_shuffle_s via the generic stamp reader" in {
    val f = java.nio.file.Files.createTempFile("benchspec_calibsh", ".json")
    java.nio.file.Files.writeString(f,
      """{"metric":"total","value":9.9,"calib_cpu_s":0.512,""" +
        """"calib_shuffle_s":0.9,"runs":3}""" + "\n")
    Bench.committedStamp(f.toString, "calib_shuffle_s") shouldBe Some(0.9)
    Bench.committedStamp(f.toString, "absent_key") shouldBe None
    Bench.committedStamp("/nonexistent/path.json", "calib_shuffle_s") shouldBe None
    java.nio.file.Files.delete(f)
  }

  it should "measure a deterministic calibration loop in sane bounds" in {
    // a tiny iteration count keeps the spec fast; the bound only proves
    // the loop runs and times (not a performance assertion)
    val s = Bench.calibrateCpuSeconds(iters = 2000000)
    s should be > 0.0
    s should be < 30.0
  }

  it should "measure the parallel calibration channel in sane bounds" in {
    // tiny iters + few threads: proves the fan-out/join runs and times,
    // not a performance assertion (the real channel uses 32 threads)
    val s = Bench.calibrateMcpuSeconds(iters = 2000000, threads = 4)
    s should be > 0.0
    s should be < 30.0
  }

  behavior of "Bench.blendRatio"

  it should "blend the two calib channels with equal weight" in {
    // both channels agree (committed twice as fast): blend = that ratio
    Bench.blendRatio(0.4, 0.6, Some(0.2), Some(0.3)) shouldBe Some(0.5)
    // channels diverge: cpu says 0.5, shuffle says 2.0 -> 1.25, so no
    // gate is re-priced by more than half the divergence
    Bench.blendRatio(0.4, 0.1, Some(0.2), Some(0.2)) shouldBe Some(1.25)
    // identity when both channels match
    Bench.blendRatio(0.3, 0.2, Some(0.3), Some(0.2)) shouldBe Some(1.0)
  }

  it should "refuse to blend unless BOTH channels are valid on both sides" in {
    // a silent single-channel fallback would reintroduce the failure
    // mode the blend replaces
    Bench.blendRatio(0.4, 0.2, None, Some(0.2)) shouldBe None
    Bench.blendRatio(0.4, 0.2, Some(0.2), None) shouldBe None
    Bench.blendRatio(-1.0, 0.2, Some(0.2), Some(0.2)) shouldBe None
    Bench.blendRatio(0.4, -1.0, Some(0.2), Some(0.2)) shouldBe None
    Bench.blendRatio(0.4, 0.2, Some(-1.0), Some(0.2)) shouldBe None
    Bench.blendRatio(0.4, 0.2, Some(0.2), Some(0.0)) shouldBe None
  }

  behavior of "Bench.committedStamp"

  private def withRecord(content: String)(body: String => Unit): Unit = {
    val f = java.nio.file.Files.createTempFile("benchspec", ".json")
    try { java.nio.file.Files.writeString(f, content); body(f.toString) }
    finally java.nio.file.Files.delete(f)
  }

  it should "read only top-level numeric stamps, never nested or quoted ones" in {
    // the r19 advice's fragility case: a string VALUE containing what
    // looks like a stamp, and the same key nested inside an object
    withRecord("""{"value":9.5,"skew_stage":"x \"calib_cpu_s\":0.1 y",""" +
      """"queries":{"value":1.0,"calib_cpu_s":2.0},"calib_cpu_s":0.313}""") { f =>
      Bench.committedStamp(f, "calib_cpu_s") shouldBe Some(0.313)
      Bench.committedStamp(f, "value") shouldBe Some(9.5)
      // a string-valued field is not a numeric stamp
      Bench.committedStamp(f, "skew_stage") shouldBe None
    }
    // unparseable input yields empty, not a throw
    withRecord("""not json at all""") { f =>
      Bench.committedStamp(f, "calib_cpu_s") shouldBe None
      Bench.committedSpreads(f) shouldBe Map.empty
    }
  }

  it should "ignore an escaped string stamp and a nested one" in {
    withRecord("""{"metric":"total","notes":"ran with \"calib_cpu_s\":9.9 once",""" +
        """"splits":{"g":{"calib_cpu_s":7.7}},"calib_cpu_s":0.25}""" + "\n") { f =>
      // neither the string-embedded 9.9 nor the nested 7.7 shadows 0.25
      Bench.committedStamp(f, "calib_cpu_s") shouldBe Some(0.25)
    }
  }

  behavior of "Bench.committedSpreads"

  it should "read the spread object only at top level" in {
    // a nested object named "spread" (inside splits) must not be read
    withRecord("""{"metric":"total","splits":{"spread":{"fake":9.0}},""" +
        """"spread":{"a":0.5},"runs":3}""" + "\n") { f =>
      Bench.committedSpreads(f) shouldBe Map("a" -> 0.5)
    }
  }

  it should "parse the spread object of a committed record, absent-safe" in {
    withRecord("""{"metric":"total","value":9.9,"queries":{"a":1.0},""" +
        """"spread":{"a":0.25,"b":3.125},"runs":3,"sf":"/x"}""" + "\n") { f =>
      Bench.committedSpreads(f) shouldBe Map("a" -> 0.25, "b" -> 3.125)
    }
    Bench.committedSpreads("/nonexistent/path.json") shouldBe Map.empty
    withRecord("""{"metric":"total","value":1.0}""") { f =>
      Bench.committedSpreads(f) shouldBe Map.empty
    }
  }
}
