package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-gate attribution profiler for the optimization rounds: runs named
  * SparkEntry gates under the Bench session shape (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, Bench's untimed warmup), each gate
  * SPARK_GRAFT_PROF_PASSES times (default 2), and prints for the LAST
  * pass of each gate, from the [[RunRecorder]]:
  *   - total wall, sum of job spans, residual driver-side time
  *   - every job: span, and the callsite of its first stage
  *   - every stage ≥ 50 ms span: span, task count, task-time sum/max,
  *     and the graft callsite line
  * This is a measurement tool (guide §1): it changes nothing about what
  * the gates compute.
  *
  * Usage: ProfGates <gate> [gate ...]   (env like Bench)
  */
object ProfGates {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.get("SPARK_GRAFT_PROF_PASSES").flatMap(_.toIntOption)
      .getOrElse(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val recorder = new RunRecorder
    spark.sparkContext.addSparkListener(recorder)

    // the operator's frame: every pin goes through graft.core.Pin, so
    // its frame would hide which operator pinned
    def graftSite(st: RunRecorder.Stage): String =
      st.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("graft.tools") &&
          !l.contains("graft.core.Pin"))
        .getOrElse(st.name).trim.take(120)

    // Bench's own warmup, so pass-1 cold numbers aren't pure JIT noise and
    // A/B walls are warmed exactly like the bench's
    graft.Bench.warmUp(spark)

    args.foreach { gate =>
      graft.SparkEntry.queries.get(gate) match {
        case None => System.err.println(s"[prof] unknown gate: $gate")
        case Some(fn) =>
          (1 to passes).foreach { pass =>
            spark.catalog.clearCache()
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
            System.gc()
            recorder.reset()
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count()
            catch { case e: Throwable =>
              System.err.println(s"[prof] $gate FAILED: ${e.getMessage}") }
            val wall = (System.nanoTime() - t0) / 1e9
            recorder.drain(spark.sparkContext)
            if (pass < passes) {
              println(f"[prof] $gate pass $pass wall=$wall%.2f s (warm-up pass)")
            } else {
              val jobs = recorder.jobs.toSeq.sortBy(_._1)
              val stages = recorder.stages
              val covered = recorder.jobSpanCoveredMs
              println(f"[prof] ===== $gate pass $pass wall=$wall%.2f s " +
                f"jobs=${jobs.size} jobSpanCovered=${covered / 1e3}%.2f s " +
                f"driverOnly=${wall - covered / 1e3}%.2f s =====")
              jobs.foreach { case (id, j) =>
                val span = if (j.endMs > 0) (j.endMs - j.startMs) / 1e3 else -1.0
                val sites = j.stageIds.flatMap(stages.get).map(graftSite)
                val stageSite = sites.find(_.contains("graft"))
                  .orElse(sites.headOption).getOrElse(j.site)
                if (span >= 0.05)
                  println(f"[prof]   job $id%3d span=$span%6.2f s  $stageSite")
              }
              stages.values.toSeq.map(st => (st, st.taskTimes.map(_._1)))
                .sortBy(-_._2.sum).take(25).foreach { case (st, durs) =>
                  val sumMs = durs.sum
                  val span = if (st.spanMs >= 0) st.spanMs / 1e3 else -1.0
                  if (sumMs >= 50 || span >= 0.05)
                    println(f"[prof]   stage ${st.id}%4d span=$span%6.2f s " +
                      f"tasks=${durs.length}%4d sum=${sumMs / 1e3}%7.2f s " +
                      f"max=${durs.maxOption.getOrElse(0L) / 1e3}%6.2f s  ${graftSite(st)}")
                }
            }
          }
      }
    }
    spark.stop()
  }
}
