package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all suites (one JVM, reused). */
trait SparkSpec extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the Spark jobs it started, read off a window of
    * a [[graft.tools.RunRecorder]]. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val rec = new graft.tools.RunRecorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      rec.drain(sc)
      rec.reset()
      val r = body
      rec.drain(sc)
      (r, rec.jobs.size)
    } finally sc.removeSparkListener(rec)
  }
}

object SparkSpec {

  private val exitDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitDirs.synchronized(exitDirs.toList).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))))
  }

  /** Spec temp directory scheduled for recursive deletion at JVM exit —
    * fixtures had been leaving hundreds of litter dirs in /tmp per suite
    * run. Exit-time (not per-test) deletion because the shared
    * SparkSession may lazily re-read a fixture until the suite ends. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    exitDirs.synchronized { exitDirs += p }
    p
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
