package graft.ext

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The artifact family's crash/replace contracts: torn-swap recovery
  * never destroys the only surviving copy (including the folded-batch
  * ledger), and a keyed re-append fully replaces its batch's prior
  * generation — empty replacement data, and sessions running with
  * partitionOverwriteMode=dynamic, included — plus the batch lifecycle
  * the four index families share (rebuild, keyed append, fold). */
class ArtifactIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    graft.SparkSpec.tempDir(prefix).toString + "/a"

  private def hfs(dir: String) = ArtifactIO.fs(spark, dir)

  behavior of "targetFileCount"

  it should "floor the file count for scan parallelism without slicing " +
    "small relations into near-empty files" in {
    val dir = tmpDir("afc")
    val rows = 2200000L
    // ~17 MB of parquet (incompressible random-ish longs)
    spark.range(0, rows).selectExpr("id", "hash(id) * id as x",
        "xxhash64(id) as y")
      .repartition(1).write.parquet(dir)
    val bytes = {
      val it = hfs(dir).listFiles(new org.apache.hadoop.fs.Path(dir), true)
      var b = 0L
      while (it.hasNext) { val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) b += f.getLen }
      b
    }
    bytes should be > (16L << 20)
    // size-only (default floor): one 256 MiB-target file
    ArtifactIO.targetFileCount(spark, dir, 256L << 20) shouldBe 1
    // parallelism floor asks for 32; the relation can fill byte-minimum
    // files at bytes/8MiB, but the ROW floor dominates here (2.2M rows /
    // 250k-per-file = 8): per-row consumers (bloom builds) cost by row,
    // so row-dense relations slice below the byte minimum — but never
    // into near-empty files (the floor stays well under 32)
    val floored = ArtifactIO.targetFileCount(spark, dir, 256L << 20,
      parallelismFloor = 32)
    floored shouldBe (rows / ArtifactIO.RowFloorPerFile).toInt
    floored should be > (bytes / (8L << 20)).toInt
    // a floor the relation can fill is honored exactly
    ArtifactIO.targetFileCount(spark, dir, 256L << 20,
      parallelismFloor = 2) shouldBe 2
    // the size target still dominates when it asks for more than the floor
    ArtifactIO.targetFileCount(spark, dir, 4L << 20,
      parallelismFloor = 2) shouldBe ((bytes + (4L << 20) - 1) / (4L << 20)).toInt
  }

  behavior of "ArtifactIO torn-swap recovery"

  it should "restore _compact_old instead of deleting it when dst is absent" in {
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(dst)
    // simulate the torn swap: dst renamed aside, promotion never happened
    hfs(dst).rename(new Path(dst), new Path(dst + "_compact_old"))
    hfs(dst).exists(new Path(dst)) shouldBe false
    // the next rewrite must first restore the aside copy, then stage over it
    ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
      spark.read.parquet(dst) // readable mid-stage: recovery already ran
        .withColumn("v", upper(col("v")))
        .write.parquet(tmp)
    }
    spark.read.parquet(dst).as[(Long, String)].collect().toSet shouldBe
      Set((1L, "A"), (2L, "B"))
    hfs(dst).exists(new Path(dst + "_compact_old")) shouldBe false
    hfs(dst).exists(new Path(dst + "_compact_tmp")) shouldBe false
  }

  it should "promote a fully staged _compact_tmp when it is the only copy" in {
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((7L, "x")).toDF("id", "v").write.parquet(dst)
    // simulate a tear between `rename(dst, old); delete(old)` completing
    // and tmp promotion: only tmp survives. A real completed stage
    // carries the _STAGED completion marker (written as staging's last
    // step) — plant it, as promotion is gated on it.
    hfs(dst).rename(new Path(dst), new Path(dst + "_compact_tmp"))
    hfs(dst).create(new Path(dst + "_compact_tmp/_STAGED"), true).close()
    ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
      spark.read.parquet(dst).write.parquet(tmp)
    }
    spark.read.parquet(dst).as[(Long, String)].collect().toSet shouldBe
      Set((7L, "x"))
  }

  it should "never promote an UNMARKED partial stage as live data" in {
    // a writer killed mid-stage leaves a tmp without the _STAGED marker;
    // pre-fix recovery promoted the newest tmp by mtime, surfacing a
    // partial directory (e.g. a half-written Bloom dir => silent false
    // negatives). Now only a marked tmp is promotable.
    val root = tmpDir("artio")
    val dst = s"$root/blooms"
    val partial = new Path(dst + "_compact_tmp_deadbeef")
    hfs(dst).mkdirs(partial)
    val out = hfs(dst).create(new Path(partial, "part-00000.parquet"), true)
    out.write(Array[Byte](1, 2, 3)) // torn parquet file
    out.close()
    // dst and _compact_old both absent, one unmarked tmp: recovery must
    // NOT guess — dst stays absent (the never-written optional-dir case)
    ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
      // readable state mid-stage: dst was not created from the partial
      hfs(dst).exists(new Path(dst)) shouldBe false
      Seq((1L, "ok")).toDF("id", "v").write.parquet(tmp)
    }
    spark.read.parquet(dst).as[(Long, String)].collect().toSet shouldBe
      Set((1L, "ok"))
    // ...and the foreign unmarked orphan was PRESERVED, not deleted: with
    // dst absent at entry it could have been a pre-marker-release
    // writer's fully staged only copy (the upgrade-path data-loss hole) —
    // the operator promotes it by hand after inspecting; nothing foreign
    // is deleted while dst is absent
    hfs(dst).exists(partial) shouldBe true
  }

  it should "force-promote a named unmarked sibling only when dst is absent" in {
    // the operator override the torn-swap runbook message prescribes:
    // a pre-marker-era writer fully staged its tmp (no marker — those
    // writers never wrote one) and died before promoting; dst is gone
    val root = tmpDir("artio")
    val dst = s"$root/data"
    val orphan = dst + "_compact_tmp_cafebabe"
    Seq((7L, "survivor")).toDF("id", "v").write.parquet(orphan)
    IndexAdmin.forcePromoteStaged(spark, dst, "data_compact_tmp_cafebabe") shouldBe
      "data_compact_tmp_cafebabe"
    spark.read.parquet(dst).as[(Long, String)].collect() shouldBe
      Array((7L, "survivor"))
    hfs(dst).exists(new Path(orphan)) shouldBe false
    // a stray marker in the promoted dir would have been removed
    hfs(dst).exists(new Path(dst, "_STAGED")) shouldBe false
  }

  it should "refuse to force-promote over live data or an unknown sibling" in {
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((1L, "live")).toDF("id", "v").write.parquet(dst)
    val orphan = dst + "_compact_tmp_cafebabe"
    Seq((9L, "stale")).toDF("id", "v").write.parquet(orphan)
    // dst exists: never replace live data, whatever the sibling holds
    an[IllegalStateException] should be thrownBy
      IndexAdmin.forcePromoteStaged(spark, dst, "data_compact_tmp_cafebabe")
    spark.read.parquet(dst).as[(Long, String)].collect() shouldBe
      Array((1L, "live"))
    hfs(dst).exists(new Path(orphan)) shouldBe true
    // dst absent but the NAMED sibling isn't on disk: nothing is inferred
    hfs(dst).rename(new Path(dst), new Path(dst + "_gone"))
    an[IllegalArgumentException] should be thrownBy
      IndexAdmin.forcePromoteStaged(spark, dst, "data_compact_tmp_wrongname")
    // the real sibling was left untouched by the refusals
    hfs(dst).exists(new Path(orphan)) shouldBe true
  }

  it should "clean a foreign marked orphan only once dst exists again" in {
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((1L, "x")).toDF("id", "v").write.parquet(dst)
    // a fenced-out writer's fully staged (marked) abandoned tmp
    val orphan = new Path(dst + "_compact_tmp_feedf00d")
    Seq((9L, "zombie")).toDF("id", "v").write.parquet(orphan.toString)
    hfs(dst).create(new Path(orphan, "_STAGED"), true).close()
    ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
      Seq((2L, "y")).toDF("id", "v").write.parquet(tmp)
    }
    // dst existed at entry, so the marked orphan was provably not the
    // only copy and entry cleanup removed it
    hfs(dst).exists(orphan) shouldBe false
    spark.read.parquet(dst).as[(Long, String)].collect() shouldBe
      Array((2L, "y"))
  }

  it should "not lose folded ledger ids across a torn ledger swap" in {
    val root = tmpDir("artio")
    ArtifactIO.recordFolded(spark, root, Seq("day-1", "day-2"))
    ArtifactIO.readFolded(spark, root).toSet shouldBe Set("day-1", "day-2")
    // tear the ledger's own rewriteInPlace mid-swap
    val ledger = s"$root/folded_batches"
    hfs(ledger).rename(new Path(ledger), new Path(ledger + "_compact_old"))
    // pre-fix this read returned Nil and the subsequent record rebuilt the
    // ledger from the new ids alone, re-arming a day-1 replay double-append
    ArtifactIO.readFolded(spark, root).toSet shouldBe Set("day-1", "day-2")
    ArtifactIO.recordFolded(spark, root, Seq("day-3"))
    ArtifactIO.readFolded(spark, root).toSet shouldBe
      Set("day-1", "day-2", "day-3")
    ArtifactIO.isFolded(spark, root, Some("day-1")) shouldBe true
  }

  behavior of "keyed re-append replacement"

  it should "drop a text batch's old postings when the replacement has no tokens" in {
    val root = tmpDir("artio")
    val idx = s"$root/tidx"
    val base = Seq((1L, "alpha beta gamma"), (2L, "delta beta"))
      .toDF("doc_id", "text")
    Retrieval.buildTextIndex(base, "doc_id", "text", idx, buckets = 4)
    val batch = Seq((10L, "zeta eta theta"), (11L, "zeta iota"))
      .toDF("doc_id", "text")
    Retrieval.appendTextIndex(batch, "doc_id", "text", idx,
      batchId = Some("day-1")) shouldBe 2L
    Retrieval.searchTextIndex(spark, idx,
        Seq((100L, "zeta")).toDF("qid", "q"), "qid", "q", k = 5)
      .count() shouldBe 2L
    // the corrected day-1 data: both docs now tokenless (sum_dl == 0)
    val empty = Seq((10L, ""), (11L, "")).toDF("doc_id", "text")
    Retrieval.appendTextIndex(empty, "doc_id", "text", idx,
      batchId = Some("day-1")) shouldBe 2L
    // pre-fix the old generation's postings survived the stats overwrite:
    // ghost documents the summed stats no longer counted
    Retrieval.searchTextIndex(spark, idx,
        Seq((100L, "zeta")).toDF("qid", "q"), "qid", "q", k = 5)
      .count() shouldBe 0L
  }

  behavior of "writer lease"

  private def plantLock(root: String, ageMs: Long = 0L): Unit = {
    val f = hfs(root)
    val p = new Path(root, "_writer_lock")
    val out = f.create(p, true)
    out.write("deadbeef-0000 someOp otherhost".getBytes("UTF-8"))
    out.close()
    if (ageMs > 0) {
      val t = System.currentTimeMillis - ageMs
      f.setTimes(p, t, t)
    }
  }

  it should "fail a concurrent write loudly, naming the holder" in {
    val root = tmpDir("artio")
    val idx = s"$root/t"
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Retrieval.buildTextIndex(docs, "doc_id", "text", idx, buckets = 2)
    plantLock(idx) // a live writer mid-operation
    val ex = intercept[IllegalStateException] {
      Retrieval.appendTextIndex(docs, "doc_id", "text", idx,
        batchId = Some("day-2"))
    }
    ex.getMessage should include("someOp otherhost")
    ex.getMessage should include("single-writer")
    // compaction is guarded by the same lease
    intercept[IllegalStateException](Retrieval.compactTextIndex(spark, idx))
    hfs(idx).delete(new Path(idx, "_writer_lock"), false)
    // released/removed lock: writes proceed and release cleanly again
    Retrieval.appendTextIndex(docs.select((col("doc_id") + 10).as("doc_id"),
      col("text")), "doc_id", "text", idx, batchId = Some("day-2")) shouldBe 1L
    Retrieval.compactTextIndex(spark, idx)
    hfs(idx).exists(new Path(idx, "_writer_lock")) shouldBe false
  }

  it should "take over a stale lock left by a crashed writer" in {
    val root = tmpDir("artio")
    val idx = s"$root/iv"
    val base = (0 until 6).map(j => (j.toLong, Array(j * 1.0, 1.0)))
      .toDF("id", "v")
    Similarity.buildIvfIndex(base, "id", "v", idx, nlist = 2)
    plantLock(idx, ageMs = 20L * 60 * 1000) // older than the 15 min window
    Similarity.appendIvfIndex(
      Seq((100L, Array(2.0, 1.0))).toDF("id", "v"),
      "id", "v", idx, batchId = Some("d1")) shouldBe 1L
    // the takeover's own lease was released on completion
    hfs(idx).exists(new Path(idx, "_writer_lock")) shouldBe false
  }

  it should "describe and force-unlock a lease without waiting out staleness" in {
    val root = tmpDir("artio")
    val idx = s"$root/t"
    val docs = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    Retrieval.buildTextIndex(docs, "doc_id", "text", idx, buckets = 2)
    ArtifactIO.describeLease(spark, idx) shouldBe None
    plantLock(idx) // fresh — inside the staleness window
    val Some((payload, age)) = ArtifactIO.describeLease(spark, idx)
    payload should include("someOp otherhost")
    age should be >= 0L
    // blocked while held...
    intercept[IllegalStateException](Retrieval.compactTextIndex(spark, idx))
    // ...the operator override evicts it, and writes proceed
    ArtifactIO.forceUnlock(spark, idx) shouldBe true
    ArtifactIO.forceUnlock(spark, idx) shouldBe false // idempotent
    Retrieval.compactTextIndex(spark, idx)
    ArtifactIO.describeLease(spark, idx) shouldBe None
  }

  it should "heartbeat-renew so a slow writer is NOT taken over and its swap commits" in {
    // staleness must mean "no heartbeat for staleAfterMs" (a dead JVM),
    // not "operation ran long": a legitimately slow 100 TB compaction
    // would otherwise be taken over and abort at the fence on EVERY
    // attempt — maintenance livelock. The holder renews the lock mtime
    // every staleAfterMs/3.
    val root = tmpDir("artio")
    val idx = s"$root/hb"
    val rel = s"$idx/rel"
    Seq((1L, "x")).toDF("id", "v").write.parquet(rel)
    val stale = 600L // ms — the body below runs ~4x longer than this
    ArtifactIO.withWriterLease(spark, idx, "slow-op", staleAfterMs = stale) {
      ArtifactIO.rewriteInPlace(spark, rel) { tmp =>
        Thread.sleep(4 * stale) // overstay the window, with heartbeats
        // a second writer arriving now (separate thread — reentrancy is
        // per-thread) must see a FRESH lease (renewed mtime) and fail
        // loudly instead of taking over
        @volatile var intruder: Option[Throwable] = None
        val t = new Thread(() =>
          try ArtifactIO.withWriterLease(spark, idx, "intruder",
            staleAfterMs = stale) { () }
          catch { case e: Throwable => intruder = Some(e) })
        t.start(); t.join()
        intruder.map(_.getMessage).getOrElse("") should include("single-writer")
        Seq((2L, "y")).toDF("id", "v").write.parquet(tmp)
      }
    }
    // the slow writer's swap committed and its lease released
    spark.read.parquet(rel).as[(Long, String)].collect() shouldBe
      Array((2L, "y"))
    hfs(idx).exists(new Path(idx, "_writer_lock")) shouldBe false
  }

  it should "take over a writer whose heartbeats STOPPED, which then aborts at the fence" in {
    // heartbeatMs = Some(MaxValue) disables renewal — indistinguishable
    // from a crashed writer once the window passes. The second writer
    // takes over; the first aborts at its commit point, data intact.
    val root = tmpDir("artio")
    val idx = s"$root/hb2"
    val rel = s"$idx/rel"
    Seq((1L, "x")).toDF("id", "v").write.parquet(rel)
    val stale = 400L
    @volatile var successorFailed: Option[Throwable] = None
    val ex = intercept[IllegalStateException] {
      ArtifactIO.withWriterLease(spark, idx, "flatlined", staleAfterMs = stale,
        heartbeatMs = Some(Long.MaxValue)) {
        ArtifactIO.rewriteInPlace(spark, rel) { tmp =>
          Thread.sleep(2 * stale) // overstay with NO heartbeats
          // a second writer (separate thread — the reentrancy map is
          // per-thread) now legitimately takes over the stale lease,
          // does its work, and holds while we reach our commit point
          val t = new Thread(() =>
            try ArtifactIO.withWriterLease(spark, idx, "successor",
              staleAfterMs = stale) {
                plantLock(idx) // leave a foreign holder for our fence
              }
            catch { case e: Throwable => successorFailed = Some(e) })
          t.start(); t.join()
          Seq((2L, "y")).toDF("id", "v").write.parquet(tmp)
        }
      }
    }
    successorFailed shouldBe None // the takeover itself succeeded
    ex.getMessage should include("taken over mid-operation")
    spark.read.parquet(rel).as[(Long, String)].collect() shouldBe
      Array((1L, "x"))
  }

  it should "abort an overstaying writer's swap after a mid-body takeover" in {
    // entry-time acquisition is not enough: a writer that exceeds the
    // staleness window keeps executing its body after a takeover, and
    // its rename-aside swaps would interleave with the new holder's.
    // The commit-point fence re-checks the token immediately before the
    // destructive rename and aborts loudly.
    val root = tmpDir("artio")
    val idx = s"$root/f"
    val rel = s"$idx/rel"
    Seq((1L, "x")).toDF("id", "v").write.parquet(rel)
    val ex = intercept[IllegalStateException] {
      ArtifactIO.withWriterLease(spark, idx, "test-op") {
        ArtifactIO.rewriteInPlace(spark, rel) { tmp =>
          Seq((2L, "y")).toDF("id", "v").write.parquet(tmp)
          plantLock(idx) // another writer takes over DURING the stage
        }
      }
    }
    ex.getMessage should include("taken over mid-operation")
    // the live directory (now the new holder's) is untouched
    spark.read.parquet(rel).as[(Long, String)].collect() shouldBe
      Array((1L, "x"))
    // the fully staged replacement is left aside for inspection —
    // staging names are TOKEN-UNIQUE under a lease, so a zombie stage
    // can never write into the path a new holder promotes
    val staged = new java.io.File(idx).listFiles
      .filter(_.getName.startsWith("rel_compact_tmp")).map(_.toString)
    staged.length shouldBe 1
    staged.head should not be (rel + "_compact_tmp") // token-suffixed
    spark.read.parquet(staged.head).as[(Long, String)]
      .collect() shouldBe Array((2L, "y"))
    // and the release path declined to delete the new holder's lock
    ArtifactIO.describeLease(spark, idx).map(_._1) shouldBe
      Some("deadbeef-0000 someOp otherhost")
  }

  it should "fence reentrant destructive helpers after a takeover" in {
    // an overstaying writer's COMPOSED helper (dropBatch under its
    // long-held lease) must abort at the reentrant entry, not delete
    // the new holder's freshly written partitions
    val root = tmpDir("artio")
    val idx = s"$root/dd"
    val docs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    DedupIndex.build(docs, "doc_id", "text", idx, numHashes = 8, bands = 4)
    DedupIndex.append(docs.select((col("doc_id") + 10).as("doc_id"),
      col("text")), "doc_id", "text", idx, batchId = Some("day-1"))
    ArtifactIO.withWriterLease(spark, idx, "outer-maintenance") {
      plantLock(idx) // takeover mid-body
      intercept[IllegalStateException](
        DedupIndex.dropBatch(spark, idx, "day-1"))
        .getMessage should include("taken over mid-operation")
    }
    // the batch the stale writer tried to drop is intact
    spark.read.parquet(s"$idx/fingerprints")
      .filter(col("batch") === "day-1").count() shouldBe 1L
  }

  it should "propagate the lease context to worker-thread staging legs" in {
    // the held-lease registry is a ThreadLocal: a worker thread staging
    // on the holder's behalf must inherit the token (suffix-unique tmp,
    // commit fence) via runWithLeaseContext — without it the worker
    // stages under the legacy SHARED tmp name, the zombie-promotion
    // hazard the token exists to prevent
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dst)
    ArtifactIO.withWriterLease(spark, root, "outer") {
      val lockIn = hfs(root).open(new Path(root, "_writer_lock"))
      val token = try scala.io.Source.fromInputStream(lockIn, "UTF-8")
        .mkString.split("\\s+").head.take(8) finally lockIn.close()
      val ctx = ArtifactIO.leaseContext
      var stagedName: String = null
      Await.result(Future(ArtifactIO.runWithLeaseContext(ctx) {
        ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
          stagedName = new Path(tmp).getName
          spark.read.parquet(dst).write.parquet(tmp)
        }
      }), Duration.Inf)
      stagedName shouldBe s"data_compact_tmp_$token"
      // a worker WITHOUT the context falls back to the shared legacy name
      var bareName: String = null
      Await.result(Future {
        ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
          bareName = new Path(tmp).getName
          spark.read.parquet(dst).write.parquet(tmp)
        }
      }, Duration.Inf)
      bareName shouldBe "data_compact_tmp"
    }
  }

  it should "fence worker-thread legs after a mid-body takeover" in {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val root = tmpDir("artio")
    val dst = s"$root/data"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dst)
    ArtifactIO.withWriterLease(spark, root, "outer") {
      val ctx = ArtifactIO.leaseContext
      plantLock(root) // takeover mid-body
      val ex = intercept[IllegalStateException](
        Await.result(Future(ArtifactIO.runWithLeaseContext(ctx) {
          ArtifactIO.rewriteInPlace(spark, dst) { tmp =>
            spark.read.parquet(dst).write.parquet(tmp)
          }
        }), Duration.Inf))
      ex.getMessage should include("taken over mid-operation")
    }
    // the new holder's data is untouched
    spark.read.parquet(dst).count() shouldBe 1L
  }

  it should "compose guarded operations reentrantly on one thread" in {
    val root = tmpDir("artio")
    val idx = s"$root/dd"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda mu")).toDF("doc_id", "text")
    // build → append → compact each take and release the lease; compact
    // internally drives recordFolded/rewriteInPlace under the same lease
    DedupIndex.build(docs, "doc_id", "text", idx, numHashes = 8, bands = 4)
    DedupIndex.append(docs.select((col("doc_id") + 10).as("doc_id"),
      col("text")), "doc_id", "text", idx, batchId = Some("d1"))
    DedupIndex.compact(spark, idx) shouldBe 4L
    hfs(idx).exists(new Path(idx, "_writer_lock")) shouldBe false
  }

  it should "fully replace an IVF batch under partitionOverwriteMode=dynamic" in {
    val root = tmpDir("artio")
    val idx = s"$root/ividx"
    // two tight clusters far apart => stable 2-cell quantizer
    def vec(c: Double, j: Int): Array[Double] =
      Array(c + j * 0.01, c - j * 0.01, c)
    val base = (0 until 8).map(j => (j.toLong, vec(if (j < 4) 0.0 else 10.0, j)))
      .toDF("id", "v")
    Similarity.buildIvfIndex(base, "id", "v", idx, nlist = 2)
    // keyed batch whose rows land in BOTH cells
    val b1 = Seq((100L, vec(0.0, 1)), (101L, vec(10.0, 1))).toDF("id", "v")
    Similarity.appendIvfIndex(b1, "id", "v", idx, batchId = Some("day-1"))
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // the corrected day-1 data lands in only ONE cell — the other
      // cell's old generation must not survive as a stale row
      val b2 = Seq((100L, vec(0.0, 2))).toDF("id", "v")
      Similarity.appendIvfIndex(b2, "id", "v", idx, batchId = Some("day-1"))
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None =>
          spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    val ids = spark.read.parquet(s"$idx/postings")
      .select("id").as[Long].collect().toSet
    ids should contain(100L)
    ids should not contain 101L
  }

  behavior of "the batch lifecycle"

  /** One index family driven through the lifecycle over (doc_id, text,
    * v) rows: build, keyed append (rows written), compact. */
  private case class Family(name: String,
                            build: (DataFrame, String) => Unit,
                            append: (DataFrame, String, String) => Long,
                            compact: String => Unit)

  private lazy val families = Seq(
    Family("dedup",
      (df, p) => { DedupIndex.build(df, "doc_id", "text", p, numHashes = 8, bands = 4); () },
      (df, p, id) => DedupIndex.append(df, "doc_id", "text", p, Some(id)),
      p => { DedupIndex.compact(spark, p); () }),
    Family("text",
      (df, p) => { Retrieval.buildTextIndex(df, "doc_id", "text", p, buckets = 4); () },
      (df, p, id) => Retrieval.appendTextIndex(df, "doc_id", "text", p, Some(id)),
      p => Retrieval.compactTextIndex(spark, p)),
    Family("ivf",
      (df, p) => { Similarity.buildIvfIndex(df, "doc_id", "v", p, nlist = 2); () },
      (df, p, id) => Similarity.appendIvfIndex(df, "doc_id", "v", p, Some(id)),
      p => Similarity.compactIvfIndex(spark, p)),
    Family("ivfpq",
      (df, p) => {
        Similarity.buildIvfPqIndex(df, "doc_id", "v", p, nlist = 2, m = 1,
          codebookSize = 2); ()
      },
      (df, p, id) => Similarity.appendIvfPqIndex(df, "doc_id", "v", p, Some(id)),
      p => Similarity.compactIvfIndex(spark, p)))

  /** Rows `ids` around one of two far-apart vector clusters. */
  private def lifecycleRows(ids: Seq[Int]): DataFrame =
    ids.map { j =>
      val c = if (j % 2 == 0) 0.0 else 10.0
      (j.toLong, s"document $j talks about topic ${j % 3} at length",
        Array(c + j * 0.01, c - j * 0.01, c))
    }.toDF("doc_id", "text", "v")

  private lazy val lcBase = lifecycleRows(0 until 8)
  private lazy val lcDay1 = lifecycleRows(Seq(100, 101))

  it should "start a rebuild with no folded ids in every family" in {
    val wrong = families.zipWithIndex.flatMap { case (f, i) =>
      val idx = s"${tmpDir("lifecycle")}/${f.name}"
      f.build(lcBase, idx)
      f.append(lcDay1, idx, "day-1") shouldBe 2L
      f.compact(idx)
      // every other family: the ledger's last swap tore, leaving only
      // its aside copy, which a torn-swap recovery would restore
      val torn = i % 2 == 1
      if (torn) {
        val ledger = s"$idx/folded_batches"
        hfs(idx).rename(new Path(ledger), new Path(ledger + "_compact_old")) shouldBe true
      }
      f.build(lcBase, idx)
      // a rebuild that inherits the ledger skips this append as a replay
      // of the old life's folded day-1, and its rows never reach the index
      val n = f.append(lcDay1, idx, "day-1")
      val folded = ArtifactIO.readFolded(spark, idx)
      if (n == 2L && folded.isEmpty) None
      else Some(s"${f.name} (torn=$torn): appended $n, folded $folded")
    }
    wrong shouldBe empty
  }

  it should "answer a folded replay with the same Spark jobs in every family" in {
    val jobs = families.map { f =>
      val idx = s"${tmpDir("lifecycle")}/${f.name}"
      f.build(lcBase, idx)
      f.append(lcDay1, idx, "day-1") shouldBe 2L
      f.compact(idx)
      val (n, j) = jobsOf(f.append(lcDay1, idx, "day-1"))
      n shouldBe 0L
      f.name -> j
    }
    // the replay check runs before any family reads its own state
    // (quantizers, parameters, stats): the ledger read alone
    withClue(jobs.mkString(", ")) { jobs.map(_._2).toSet should have size 1 }
  }

  it should "write the same compacted files whatever the input partitioning in every family" in {
    // same rows, the appended batch partitioned one way or four ways
    val day = lifecycleRows(100 until 140)
    def digests(f: Family, batch: DataFrame): Seq[String] = {
      val idx = s"${tmpDir("lifecycle")}/${f.name}"
      f.build(lcBase, idx)
      f.append(batch, idx, "day-1") shouldBe 40L
      f.compact(idx)
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk)
        else if (d.getName.endsWith(".parquet")) Seq(d) else Nil
      Seq("postings", "fingerprints", "shingles", "bands").flatMap { r =>
        walk(new java.io.File(s"$idx/$r")).map { file =>
          val sha = java.security.MessageDigest.getInstance("SHA-256")
            .digest(java.nio.file.Files.readAllBytes(file.toPath))
          r + ":" + sha.map("%02x".format(_)).mkString
        }
      }.sorted
    }
    val differ = families.filter { f =>
      val one = digests(f, day.coalesce(1))
      one.isEmpty || one != digests(f, day.repartition(4, col("text")))
    }
    differ.map(_.name) shouldBe empty
  }

  behavior of "batch-lifecycle decisions"

  it should "all stay inside ArtifactIO" in {
    val root = new java.io.File("src/main/scala")
    root.isDirectory shouldBe true
    def scalaFiles(d: java.io.File): Seq[java.io.File] = d.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val call = """\b(isFolded|recordFolded|listBatchIds|validBatchId)\s*\(""".r
    val hits = scalaFiles(root)
      .filterNot(_.getPath.endsWith("graft/ext/ArtifactIO.scala"))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val lines = text.split("\n", -1)
        call.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n')
          (f, line + 1, lines(line).trim)
        }.filterNot { case (_, _, l) =>
          l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") }
      }
    withClue(hits.map { case (f, n, l) => s"${f.getPath}:$n: $l" }.mkString("\n")) {
      hits shouldBe empty
    }
  }
}
