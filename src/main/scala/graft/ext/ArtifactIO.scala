package graft.ext

import graft.sources.GraftIO
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.concurrent.{ExecutionContext, Future}

/** Shared filesystem plumbing and the ONE batch lifecycle of the
  * persisted-index family (dedup, BM25 text, IVF, IVF-PQ).
  *
  * Every artifact is a directory of batch-partitioned relations
  * (`<relation>/batch=<id>/…`, plus the dedup index's per-batch Bloom
  * segments) and a `folded_batches` ledger. Its generation changes only
  * through the four steps below; the families call them and supply their
  * own writers, their relation lists and their crash orders:
  *
  *  - [[rebuild]] takes the writer lease, deletes the family's relation
  *    directories and THEN the ledger (with their staging siblings), and
  *    runs the build. A rebuild never inherits a prior life's batches,
  *    Bloom segments or folded ids.
  *  - [[appendKeyed]] takes the lease and first checks the ledger: a
  *    keyed id that a compaction already folded is a post-compaction
  *    replay — one log line, 0 rows, no other read. Otherwise it
  *    validates the id (a caller's stable key, or a fresh `auto-*`) and
  *    runs the family's writer, which overwrites that batch's own
  *    partitions (a retried keyed append replaces itself).
  *  - [[fold]], called by a compactor or retrain under its lease,
  *    records every replayable batch id of the given relations in the
  *    ledger BEFORE any swap and returns the one `compact-*` id the
  *    folded output is written under.
  *  - [[dropBatch]] takes the lease and deletes a batch's paths in the
  *    order the family gives (each family orders them so a tear only
  *    over-covers).
  *
  * In-place directory rewrites are staged to a sibling and swapped by
  * rename-ASIDE ([[rewriteInPlace]]), so the live data exists (as the
  * destination or as `<dst>_compact_old`) at every instant — a crash or
  * a failed rename in the swap window can lose the compaction, never the
  * data. Single-writer contract throughout, enforced by the lease
  * ([[withWriterLease]]); readers never take it. */
private[ext] object ArtifactIO {

  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Resolve an optional caller-supplied batch id: validated (it becomes
    * a `batch=<id>` partition directory name) when given — the STABLE
    * id that makes a retried append overwrite itself — or a fresh
    * unique id otherwise (plain at-least-once appends). The ids the
    * artifacts use internally are RESERVED: `init` names the build's
    * base corpus (an append under it would silently replace the whole
    * build) and `compact-*` names a compactor's folded output. */
  private def validBatchId(batchId: Option[String]): String = batchId match {
    case Some(id) =>
      require(id.matches("[A-Za-z0-9._-]+"),
        s"batch id must match [A-Za-z0-9._-]+, got '$id'")
      require(id != "init" && !id.startsWith("compact-"),
        s"batch id '$id' is reserved ('init' is the build's base corpus, " +
          "'compact-*' a compaction's output) — choose another id")
      id
    case None => s"auto-${java.util.UUID.randomUUID.toString.take(13)}"
  }

  /** Whether `dir` holds at least one parquet DATA file (recursively).
    * Distinct from directory existence: a zero-row partitioned write
    * still creates the directory and a `_SUCCESS` marker with no
    * schema-bearing file, and a batch drop can empty a directory — a
    * `spark.read.parquet` of either throws at schema inference, so
    * readers must probe for files, not dirs. */
  def hasParquetData(spark: SparkSession, dir: String): Boolean = {
    val hfs = fs(spark, dir)
    val p = new Path(dir)
    if (!hfs.exists(p)) return false
    val it = hfs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
        return true
    }
    false
  }

  /** Rewrite the directory `dst` in place: `stage(tmp)` materializes the
    * replacement contents under `<dst>_compact_tmp`, then the swap
    * renames dst aside to `<dst>_compact_old`, promotes tmp, and deletes
    * the aside copy. Never delete-then-rename. A missing `dst` (legal
    * for an optional artifact dir that was never written, e.g. the Bloom
    * dir of an empty index) skips the aside step. Recovery from a torn
    * swap (dst absent but an aside copy present) is AUTOMATIC: the next
    * call restores `_compact_old` (the pre-compaction original) — or a
    * `_compact_tmp` whose stage provably COMPLETED (it carries the
    * [[StagedMarker]] written as staging's last step) when no aside
    * exists — back into place before staging, so the sibling copies are
    * never the ones deleted while they are the only copy, and a writer
    * killed mid-stage can never have its partial output promoted as
    * live data. */
  def rewriteInPlace(spark: SparkSession, dst: String)
                    (stage: String => Unit): Unit = {
    val hfs = fs(spark, dst)
    val dstP = new Path(dst)
    // entry fence: a writer already taken over must not delete the new
    // holder's siblings or waste a full stage it can never promote
    fenceOrAbort(spark, dst)
    // the staging path is TOKEN-UNIQUE under a held lease: a stale
    // writer's zombie stage (executor tasks still running after a
    // takeover) keeps writing into ITS tmp, never into the path the new
    // holder stages and promotes — a shared tmp name would let the
    // zombie's files be promoted as the new holder's compaction
    val tmp = new Path(dst + "_compact_tmp" + leaseTokenSuffix(dst))
    val old = new Path(dst + "_compact_old")
    recoverTornSwap(spark, dst)
    // clear the staging orphans that are provably not a live writer's
    // work-in-progress: ours (we are about to restage), any marked
    // sibling (its stage completed, its writer aborted at the fence),
    // and unmarked siblings stale past the lease window. Two holdbacks:
    // a YOUNG unmarked foreign tmp may be a fenced-out zombie's
    // still-running executor tasks — deleting it under them would leave
    // a fresh partial orphan (it ages out on a later pass, and the
    // marker rule means it can never be promoted either way) — and
    // nothing FOREIGN is deleted while dst is ABSENT: with dst gone an
    // unmarked orphan may be a pre-marker-release writer's fully staged
    // only copy (those writers never wrote markers), which the operator
    // can still promote by hand; only our own tmp — this lease's
    // restageable scratch — cleans unconditionally.
    val now = System.currentTimeMillis
    val ourSuffix = leaseTokenSuffix(dst)
    val dstExists = hfs.exists(dstP)
    stagingSiblings(hfs, dst).foreach { p =>
      val ours = p.getName == new Path(dst).getName + "_compact_tmp" + ourSuffix
      val legacyShared = p.getName == new Path(dst).getName + "_compact_tmp"
      // lazy: the marker probe (one RPC) and especially the subtree walk
      // (O(task-attempt files) listStatus RPCs on an object store) only
      // run when they can affect the decision — `||` short-circuits past
      // both for our own tmp, and dstExists=false skips everything
      lazy val staged = hfs.exists(new Path(p, StagedMarker))
      // staleness from the NEWEST mtime in the tmp's subtree, not the
      // root's: a POSIX/HDFS dir's mtime only advances when its DIRECT
      // entries change, and Spark stages under tmp/_temporary/<job>/
      // _temporary/<attempt>/..., so a zombie writer's live tasks never
      // touch the root mtime — root staleness would delete the tmp
      // under running tasks (safe, the marker rule blocks promotion of
      // the recreated partial, but it churns). The bounded walk reaches
      // the attempt dirs, whose entries DO change while tasks write.
      lazy val stale = {
        val newest = newestMtime(hfs, p, depth = 5)
        newest > 0L && now - newest > StagingStaleMs
      }
      if (ours || (dstExists && (legacyShared || staged || stale)))
        hfs.delete(p, true)
    }
    hfs.delete(old, true)
    stage(tmp.toString)
    // completion marker: staging's LAST step, so recoverTornSwap can
    // distinguish a fully staged replacement from a killed writer's
    // partial output without guessing by mtime
    val mk = hfs.create(new Path(tmp, StagedMarker), true)
    mk.close()
    // Commit-point fencing: a writer that overstayed the lease's
    // staleness window may have been taken over mid-body — its entry
    // check passed long ago, but the swap about to run would interleave
    // with the NEW holder's writes. Re-verify the token immediately
    // before the destructive rename; on mismatch abort loudly, leaving
    // the staged tmp sibling for inspection and the live data (now the
    // new holder's) untouched.
    fenceOrAbort(spark, dst)
    if (hfs.exists(dstP)) {
      require(hfs.rename(dstP, old),
        s"rewriteInPlace: rename $dstP -> $old failed (compaction " +
          "aborted; live data untouched)")
      if (!hfs.rename(tmp, dstP)) {
        // restore the original before failing — dst never stays absent
        hfs.rename(old, dstP)
        throw new IllegalStateException(
          s"rewriteInPlace: rename $tmp -> $dstP failed; original restored")
      }
      hfs.delete(old, true)
    } else {
      require(hfs.rename(tmp, dstP),
        s"rewriteInPlace: rename $tmp -> $dstP failed")
    }
    // the marker served its purpose; keep the live dir free of it
    hfs.delete(new Path(dstP, StagedMarker), false)
    ()
  }

  /** Zero-byte file written INSIDE a staging directory as the final step
    * of [[rewriteInPlace]]'s stage phase. Its presence proves the stage
    * ran to completion; its absence marks a partial stage (writer killed
    * mid-write) that must never be promoted. Underscore-prefixed, so
    * parquet readers and [[hasParquetData]] ignore it if it ever
    * survives into a live directory. */
  private val StagedMarker = "_STAGED"

  /** How old an UNMARKED foreign staging sibling must be before entry
    * cleanup may delete it — matched to the default lease staleness
    * window, past which its writer is presumed dead rather than a live
    * fenced-out zombie whose executor tasks are still writing. */
  private val StagingStaleMs = 15L * 60 * 1000

  /** Newest modification time anywhere in `p`'s tree, to `depth` levels
    * (directories recursed, file mtimes read from their parent's
    * listing; -1 when `p` is gone). Races with a live writer are benign:
    * an entry vanishing mid-walk is skipped, and any surviving fresh
    * entry is enough to hold the staleness trigger back. */
  private def newestMtime(hfs: FileSystem, p: Path, depth: Int): Long = {
    val self =
      try hfs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return -1L }
    if (depth <= 0) self
    else {
      val kids =
        try hfs.listStatus(p)
        catch { case _: Throwable => Array.empty[org.apache.hadoop.fs.FileStatus] }
      kids.foldLeft(self) { (m, k) =>
        math.max(m,
          if (k.isDirectory) newestMtime(hfs, k.getPath, depth - 1)
          else k.getModificationTime)
      }
    }
  }

  /** Torn-swap recovery for a [[rewriteInPlace]] directory: when `dst`
    * is absent but a sibling copy exists, a prior call renamed dst aside
    * (`_compact_old`) and/or fully staged a replacement (`_compact_tmp`)
    * but died before promoting. Either sibling is a complete copy;
    * restore the original in preference. Called on entry by
    * [[rewriteInPlace]] (so the siblings are never deleted while they
    * are the only copy) and by [[readFolded]] (a torn ledger swap read
    * as "empty ledger" would silently re-arm double-appends of replayed
    * folded batches). */
  private def recoverTornSwap(spark: SparkSession, dst: String): Unit = {
    val hfs = fs(spark, dst)
    val dstP = new Path(dst)
    if (hfs.exists(dstP)) return
    val old = new Path(dst + "_compact_old")
    val src =
      if (hfs.exists(old)) Some(old)
      else {
        // staging names may be token-suffixed (see rewriteInPlace). Only
        // a sibling carrying the StagedMarker — written as staging's
        // LAST step — is promotable: an unmarked tmp is a killed
        // writer's partial output (or a live zombie's work in progress)
        // and promoting it would surface incomplete data as live (a
        // partial Bloom dir silently yields false negatives). With
        // several marked orphans the most recently completed wins.
        // Unmarked orphans with dst absent are left UNTOUCHED and called
        // out: a pre-marker-release writer's torn swap looks exactly
        // like this, and its tmp may be the only copy — the operator
        // decides (rename it to dst by hand after inspecting it), the
        // engine never deletes or promotes what it cannot prove staged.
        val all = stagingSiblings(hfs, dst)
        val tmps = all.filter(p => hfs.exists(new Path(p, StagedMarker)))
        if (tmps.isEmpty && all.nonEmpty)
          System.err.println(s"[graft] $dst is absent and " +
            s"${all.size} UNMARKED staging sibling(s) exist " +
            s"(${all.map(_.getName).mkString(", ")}): possibly a " +
            "pre-marker-release torn swap whose tmp is the only copy — " +
            "inspect it, then run IndexAdmin.forcePromoteStaged(spark, " +
            s"\"$dst\", \"<sibling>\") to restore it; " +
            "not auto-promoted (could be a killed writer's partial stage)")
        if (tmps.isEmpty) None
        else Some(tmps.maxBy(p => hfs.getFileStatus(p).getModificationTime))
      }
    src.foreach { s =>
      require(hfs.rename(s, dstP),
        s"recoverTornSwap: rename $s -> $dstP failed")
      hfs.delete(new Path(dstP, StagedMarker), false)
      System.err.println(s"[graft] recovered $dst from ${s.getName} " +
        "left by a torn swap")
    }
  }

  /** The operator override [[recoverTornSwap]]'s runbook message
    * prescribes: promote an UNMARKED staging sibling into an ABSENT
    * `dst` by hand, for the pre-marker-release torn swap whose tmp is
    * provably-complete only to a human who inspected it. The engine
    * never does this automatically (an unmarked tmp is
    * indistinguishable from a killed writer's partial stage), so the
    * command demands the operator name the EXACT sibling and refuses
    * every ambiguous or unsafe shape: dst present (nothing to recover —
    * never replace live data), the named sibling missing or not a
    * staging sibling of dst at all. Returns the promoted sibling's
    * name. */
  def forcePromoteStaged(spark: SparkSession, dst: String,
                         staging: String): String = {
    val hfs = fs(spark, dst)
    val dstP = new Path(dst)
    if (hfs.exists(dstP))
      throw new IllegalStateException(
        s"forcePromoteStaged: $dst exists — refusing to replace live " +
          "data (this command only completes a torn swap that left dst " +
          "absent; use rewriteInPlace/compact for a live artifact)")
    val sibName = new Path(staging).getName
    val candidates = stagingSiblings(hfs, dst)
    val src = candidates.find(_.getName == sibName).getOrElse(
      throw new IllegalArgumentException(
        s"forcePromoteStaged: '$sibName' is not a staging sibling of " +
          s"$dst (found: ${
            if (candidates.isEmpty) "none" else candidates.map(_.getName).mkString(", ")
          })"))
    require(hfs.rename(src, dstP),
      s"forcePromoteStaged: rename $src -> $dstP failed")
    hfs.delete(new Path(dstP, StagedMarker), false)
    System.err.println(s"[graft] force-promoted ${src.getName} to $dst " +
      "(operator override)")
    src.getName
  }

  /** Every `<dst>_compact_tmp*` staging sibling currently on disk —
    * the shared legacy name plus any token-suffixed ones left by
    * fenced-out writers. */
  private def stagingSiblings(hfs: FileSystem, dst: String): Seq[Path] = {
    val p = new Path(dst)
    val parent = p.getParent
    if (parent == null || !hfs.exists(parent)) Nil
    else hfs.listStatus(parent).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(p.getName + "_compact_tmp"))
  }

  /** The staging-name suffix for `dst` under this thread's lease (first
    * 8 token chars), or empty outside any lease — kept stable per
    * (writer, artifact) so a retry within one lease reuses its own
    * staging path. */
  private def leaseTokenSuffix(dst: String): String =
    heldLeases.get.find { case (root, _) =>
      dst == root || dst.startsWith(root + "/")
    }.map { case (_, token) => "_" + token.take(8) }.getOrElse("")

  // ---- folded-batches ledger ----------------------------------------------
  // Compaction folds batch partitions into one compact batch, DESTROYING
  // the per-batch idempotence keys — a stream replaying a pre-compaction
  // trigger after a compact would find its batch=<id> partition gone and
  // re-append data the compact batch already holds (double-counting, in
  // the text index, permanently). The ledger closes that hole: every
  // compactor records the REPLAYABLE ids it folds (caller-keyed ids only
  // — `auto-*` can never be replayed, `init`/`compact-*` never re-appended)
  // BEFORE any swap, and a keyed append consults it, turning a replay of
  // a folded id into a no-op. Record-before-swap is the safe tear order:
  // ids marked folded while their partitions still exist merely skip a
  // redundant retry (the data is present either way); the reverse order
  // would double-write. Folded ids are permanently CONSUMED — appending
  // corrected data needs a fresh id.

  private val FoldedDir = "folded_batches"

  private def replayable(id: String): Boolean =
    id != "init" && !id.startsWith("compact-") && !id.startsWith("auto-")

  /** Batch ids currently present under a relation directory (from the
    * `batch=<id>` partition names — a listing, no data read). */
  private def listBatchIds(spark: SparkSession, relDir: String): Seq[String] = {
    val hfs = fs(spark, relDir)
    val p = new Path(relDir)
    if (!hfs.exists(p)) Nil
    else hfs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch="))
  }

  /** Add every replayable id in `ids` to the artifact's folded ledger
    * (call BEFORE the compaction's swaps). */
  def recordFolded(spark: SparkSession, artifactRoot: String,
                   ids: Seq[String]): Unit = {
    val keyed = ids.filter(replayable).distinct
    if (keyed.isEmpty) return
    import spark.implicits._
    val all = (readFolded(spark, artifactRoot) ++ keyed).distinct
    rewriteInPlace(spark, s"$artifactRoot/$FoldedDir") { tmp =>
      all.toDF("batch_id").repartition(1).write.mode("overwrite").parquet(tmp)
    }
  }

  /** The artifact's folded ids (empty when no compact has run). */
  def readFolded(spark: SparkSession, artifactRoot: String): Seq[String] = {
    val dir = s"$artifactRoot/$FoldedDir"
    recoverTornSwap(spark, dir)
    if (!hasParquetData(spark, dir)) Nil
    else GraftIO.readParquet(spark, dir).select("batch_id")
      .collect().map(_.getString(0)).toSeq
  }

  /** True when a keyed append should no-op: its id was already folded
    * into a compact batch (the data is in the artifact; this is a
    * post-compaction replay). Auto ids are never folded. */
  def isFolded(spark: SparkSession, artifactRoot: String,
               batchId: Option[String]): Boolean =
    batchId.exists(id => replayable(id) &&
      readFolded(spark, artifactRoot).contains(id))

  // ---- batch lifecycle (see the header) ------------------------------------

  /** Delete `dir` under the held lease, fenced like every commit point:
    * an overstayed writer cannot delete the new holder's fresh data. */
  def delete(spark: SparkSession, dir: String): Unit = {
    fenceOrAbort(spark, dir)
    fs(spark, dir).delete(new Path(dir), true)
    ()
  }

  /** Build reset: under the lease, delete each of `relations` (paths
    * under `root`) and then the folded ledger — each with its
    * `_compact_old`/`_compact_tmp*` siblings first, so no torn-swap
    * recovery can resurrect a prior life — and run `build`. Relations
    * before the ledger: a tear in between leaves stale folded ids over
    * empty relations, which the re-run build clears, never folded data
    * with a forgotten ledger. */
  def rebuild[T](spark: SparkSession, root: String, op: String,
                 relations: Seq[String])(build: => T): T =
    withWriterLease(spark, root, op) {
      (relations :+ FoldedDir).foreach { r =>
        val dir = s"$root/$r"
        val hfs = fs(spark, dir)
        (stagingSiblings(hfs, dir) :+ new Path(dir + "_compact_old"))
          .foreach(p => delete(spark, p.toString))
        delete(spark, dir)
      }
      build
    }

  /** Keyed append: under the lease, a replay of a folded `batchId` logs
    * and returns 0 before any other read; otherwise `write` runs with
    * the validated (or freshly generated) id and returns rows written. */
  def appendKeyed(spark: SparkSession, root: String, op: String,
                  batchId: Option[String])(write: String => Long): Long =
    withWriterLease(spark, root, op) {
      if (isFolded(spark, root, batchId)) {
        // the batch's rows already live in a compact batch — re-appending
        // would duplicate (or, in the text index, double-count) them
        System.err.println(s"[graft] $op: batch '${batchId.get}' was " +
          "folded by a compaction — skipping replay")
        0L
      } else write(validBatchId(batchId))
    }

  /** Fold, under the caller's held lease on `root`: record the batch ids
    * of `relations` in the ledger (ledger FIRST, before any swap) and
    * return the `compact-*` id the folded output is written under. */
  def fold(spark: SparkSession, root: String, relations: Seq[String]): String = {
    require(heldLeases.get.contains(root),
      s"fold: the writer lease on $root must be held")
    recordFolded(spark, root,
      relations.flatMap(r => listBatchIds(spark, s"$root/$r")).distinct)
    s"compact-${java.util.UUID.randomUUID.toString.take(13)}"
  }

  /** Drop a batch: under the lease, delete `paths` (under `root`) in the
    * given order. Absent paths are no-ops. */
  def dropBatch(spark: SparkSession, root: String, op: String,
                paths: Seq[String]): Unit =
    withWriterLease(spark, root, op) {
      paths.foreach(p => delete(spark, s"$root/$p"))
    }

  // ---- writer lease ---------------------------------------------------------
  // The artifact family is single-writer BY CONTRACT; the lease makes a
  // violated contract fail loudly instead of corrupting. Every mutating
  // entry point (build/append/compact/retrain/drop) wraps itself in
  // withWriterLease: acquire-or-fail on a `_writer_lock` file created
  // with overwrite=false (atomic on HDFS; best-effort check-then-create
  // on filesystems without atomic create — the lease is a guardrail for
  // the documented contract, not a distributed-consensus primitive).
  // A lock older than `staleAfterMs` is presumed abandoned by a crashed
  // writer and taken over with a logged warning. Reentrant per thread,
  // so a guarded operation may compose guarded helpers on the same
  // artifact. READERS never take the lease — searches stay lock-free.
  // The lease is also re-verified at every COMMIT POINT (fenceOrAbort,
  // called by rewriteInPlace before its destructive rename): an
  // overstaying writer that lost a staleness takeover aborts its swap
  // instead of interleaving with the new holder's writes.

  private val LockFile = "_writer_lock"

  /** artifact root → the lease token THIS thread wrote, for reentrancy
    * and for commit-point fencing ([[fenceOrAbort]]). */
  private val heldLeases: ThreadLocal[mutable.Map[String, String]] =
    ThreadLocal.withInitial(() => mutable.Map.empty[String, String])

  /** Snapshot of this thread's held leases, for handing to
    * [[runWithLeaseContext]] on a worker thread. The registry is a
    * ThreadLocal: a worker thread staging on the lease holder's behalf
    * would otherwise see NO held lease — its [[rewriteInPlace]] would
    * stage under the legacy SHARED tmp name (the exact zombie-promotion
    * hazard the token suffix exists to prevent) and skip the
    * commit-point fence entirely. */
  private[ext] def leaseContext: Map[String, String] = heldLeases.get.toMap

  /** Run `body` on THIS thread with `ctx` (a holder's [[leaseContext]])
    * as its held-lease registry, restoring the thread's own registry
    * after — the propagation shim for concurrent staging legs under one
    * writer lease. The worker inherits fencing and token-suffixed
    * staging; it must complete before the holder releases the lease. */
  private[ext] def runWithLeaseContext[T](ctx: Map[String, String])
                                         (body: => T): T = {
    val prev = heldLeases.get
    heldLeases.set(mutable.Map(ctx.toSeq: _*))
    try body finally heldLeases.set(prev)
  }

  /** Start `body` as a concurrent leg on the global pool, carrying this
    * thread's held leases ([[runWithLeaseContext]]) and its pin scope
    * ([[graft.core.Pin.within]]) onto the worker: the leg stages and
    * fences like its starter, and its pins are released with the
    * starter's scope. Settle it (graft.core.Par) before that lease or
    * scope ends. */
  private[ext] def leg[T](body: => T): Future[T] = {
    val ctx = leaseContext
    val scope = graft.core.Pin.current
    Future(runWithLeaseContext(ctx)(graft.core.Pin.within(scope)(body)))(
      ExecutionContext.global)
  }

  /** Commit-point fence: when `dst` sits under an artifact root this
    * thread holds a lease on, re-read the lock file and abort unless it
    * still carries OUR token — the cheap guard that stops an overstaying
    * writer (taken over past the staleness window) from swapping
    * directories out from under the new holder. A `dst` under no held
    * lease (direct [[rewriteInPlace]] use outside the artifact family)
    * is not fenced. */
  private[ext] def fenceOrAbort(spark: SparkSession, dst: String): Unit =
    heldLeases.get.find { case (root, _) =>
      dst == root || dst.startsWith(root + "/")
    }.foreach { case (root, token) =>
      val hfs = fs(spark, root)
      val cur = readLock(hfs, new Path(root, LockFile)).getOrElse("<missing>")
      if (!cur.startsWith(token)) throw new IllegalStateException(
        s"writer lease on $root was taken over mid-operation (now held " +
          s"by '$cur') — this writer exceeded the staleness window. " +
          s"Aborting the destructive step on $dst; any staged " +
          "_compact_tmp sibling is left for inspection and the live " +
          "directory (the new holder's) is untouched.")
    }

  /** The lock file's payload, or None when it is absent/unreadable —
    * the one read used by acquisition, release, fencing, and
    * [[describeLease]] (each chooses its own fallback meaning). */
  private def readLock(hfs: FileSystem, lock: Path): Option[String] =
    try {
      val in = hfs.open(lock)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** Run `body` holding the artifact's writer lease. Throws
    * IllegalStateException naming the holder when another writer holds a
    * fresh lease; takes over (with a warning) past `staleAfterMs`.
    *
    * The holder HEARTBEAT-renews the lock's mtime on a daemon timer
    * (every `staleAfterMs / 3` unless `heartbeatMs` overrides it), so
    * staleness means "no heartbeat for staleAfterMs" — a writer whose
    * JVM died — not "operation ran long". Without renewal a legitimately
    * slow compaction/retrain at 100 TB scale would exceed the window,
    * get taken over, and abort at the commit fence EVERY attempt:
    * maintenance on a big artifact could never complete while a second
    * writer was waiting. The renewer re-reads the lock each beat and
    * stops itself the moment the token is no longer ours (never
    * refreshing a new holder's lock after a takeover); the commit-point
    * fence still provides the safety half of the contract. Pass
    * `heartbeatMs = Some(Long.MaxValue)` to disable renewal (a writer
    * that stops heartbeating is taken over after the window, exactly as
    * a crashed one is). */
  def withWriterLease[T](spark: SparkSession, artifactRoot: String, op: String,
                         staleAfterMs: Long = 15L * 60 * 1000,
                         heartbeatMs: Option[Long] = None)(body: => T): T = {
    if (heldLeases.get.contains(artifactRoot)) {
      // reentrant — but re-verify the OUTER lease first: a destructive
      // helper (dropBatch, a nested compact) composed under an
      // overstayed-and-taken-over lease must abort like any commit point
      fenceOrAbort(spark, artifactRoot)
      return body
    }
    val hfs = fs(spark, artifactRoot)
    val rootP = new Path(artifactRoot)
    if (!hfs.exists(rootP)) hfs.mkdirs(rootP)
    val lock = new Path(artifactRoot, LockFile)
    val token = java.util.UUID.randomUUID.toString
    val payload =
      s"$token $op ${java.net.InetAddress.getLocalHost.getHostName}"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryCreate(): Boolean =
      try {
        val out = hfs.create(lock, false)
        out.write(payload); out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      // somebody holds it — stale takeover or loud failure
      val st = try Some(hfs.getFileStatus(lock)) catch {
        case _: java.io.FileNotFoundException => None // released between checks
      }
      val age = st.map(s => System.currentTimeMillis - s.getModificationTime)
      val holder = readLock(hfs, lock).getOrElse("<unreadable>")
      if (age.forall(_ > staleAfterMs)) {
        System.err.println(s"[graft] writer lease on $artifactRoot held by " +
          s"'$holder' is ${age.map(_ / 1000).getOrElse(-1L)}s old — presuming " +
          "a crashed writer and taking over")
        hfs.delete(lock, true)
        if (!tryCreate()) throw new IllegalStateException(
          s"writer lease on $artifactRoot: lost the takeover race to " +
            "another writer — retry")
      } else throw new IllegalStateException(
        s"writer lease on $artifactRoot is held by '$holder' " +
          s"(${age.map(_ / 1000).getOrElse(-1L)}s old; op '$op' refused). " +
          "The artifact family is single-writer: serialize maintenance, or " +
          s"delete $artifactRoot/$LockFile if the holder is known dead")
    }
    heldLeases.get(artifactRoot) = token
    val beat = heartbeatMs.getOrElse(math.max(1L, staleAfterMs / 3))
    val renewer: Option[java.util.concurrent.ScheduledExecutorService] =
      if (beat >= staleAfterMs) None // renewal disabled / pointless cadence
      else {
        val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
          (r: Runnable) => {
            val t = new Thread(r, s"graft-lease-heartbeat-$op")
            t.setDaemon(true)
            t
          })
        val failedBeats = new java.util.concurrent.atomic.AtomicInteger(0)
        ex.scheduleAtFixedRate(() => {
          try {
            // renew ONLY while the lock still carries our token — after a
            // takeover (we somehow missed >= 3 beats: GC pause, FS hang)
            // the new holder's lock must age on its own heartbeat, and
            // our next commit point will abort us
            if (readLock(hfs, lock).exists(_.startsWith(token))) {
              try hfs.setTimes(lock, System.currentTimeMillis, -1)
              catch {
                // filesystems without setTimes (object stores): advance
                // the mtime by rewriting the lock with our own payload —
                // the token was just verified, and the commit-point
                // fence backstops the (non-atomic) check-then-write
                case _: Exception =>
                  val out = hfs.create(lock, true)
                  out.write(payload); out.close()
              }
              failedBeats.set(0)
            } else ex.shutdown()
          } catch {
            case _: Throwable =>
              // a missed beat is survivable; SILENTLY missing every beat
              // is not — it voids the anti-livelock guarantee (the lock
              // ages as if we crashed), so persistent failure must say so
              if (failedBeats.incrementAndGet() == 3)
                System.err.println(s"[graft] writer-lease heartbeat on " +
                  s"$artifactRoot failed 3 consecutive beats — renewal is " +
                  "NOT happening; a long '" + op + "' may be taken over " +
                  "as stale despite this writer being alive")
          }
        }, beat, beat, java.util.concurrent.TimeUnit.MILLISECONDS)
        Some(ex)
      }
    try body
    finally {
      renewer.foreach(_.shutdownNow())
      heldLeases.get -= artifactRoot
      // release only OUR lease: a stale takeover may have replaced it
      readLock(hfs, lock).foreach { cur =>
        if (cur.startsWith(token)) hfs.delete(lock, true)
        else System.err.println(s"[graft] writer lease on $artifactRoot was " +
          "taken over mid-operation (this writer exceeded the staleness " +
          "window) — not releasing the new holder's lock")
      }
    }
  }

  /** The current writer lease on an artifact, if any: `(payload, ageMs)`
    * where payload is "token op hostname". Read-only — never touches the
    * lock. The ops-side "who is writing this index and since when". */
  def describeLease(spark: SparkSession, artifactRoot: String)
      : Option[(String, Long)] = {
    val hfs = fs(spark, artifactRoot)
    val lock = new Path(artifactRoot, LockFile)
    try {
      val st = hfs.getFileStatus(lock)
      readLock(hfs, lock)
        .map(payload =>
          (payload, System.currentTimeMillis - st.getModificationTime))
    } catch { case _: java.io.IOException => None }
  }

  /** Delete an artifact's writer lock unconditionally — the manual
    * remediation for a KNOWN-dead holder when waiting out the staleness
    * window is not acceptable. Logs what was evicted. This is an
    * operator override of the single-writer guardrail: forcing the lock
    * out from under a LIVE writer re-creates exactly the double-writer
    * hazard the lease exists to stop — confirm the holder is dead first
    * ([[describeLease]] names its op and host). Returns true if a lock
    * was present and removed. */
  def forceUnlock(spark: SparkSession, artifactRoot: String): Boolean = {
    describeLease(spark, artifactRoot) match {
      case Some((payload, age)) =>
        System.err.println(s"[graft] force-unlocking $artifactRoot: evicting " +
          s"lease '$payload' (${age / 1000}s old)")
        fs(spark, artifactRoot).delete(new Path(artifactRoot, LockFile), true)
      case None =>
        System.err.println(s"[graft] force-unlock: no writer lease at $artifactRoot")
        false
    }
  }

  /** Exact row count of a parquet relation from its file FOOTERS — a
    * driver-side metadata read, no Spark job, no data scan. Parquet
    * footers record exact row counts, so for sizing decisions over a
    * relation this module just wrote (bloom expectedNumItems, broadcast
    * cutoffs) this replaces a full count() scan with one metadata pass
    * over the same bounded file set [[targetFileCount]] already lists
    * (guide §1.2-1: a removed job is a removed cluster barrier).
    * Recursive, so hive `batch=`/`cell=` partitions are included. */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val hfs = fs(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    val it = hfs.listFiles(new Path(dir), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        try n += rd.getRecordCount finally rd.close()
      }
    }
    n
  }

  /** Parallelism-floor granule: a file is allowed to be smaller than the
    * 8 MiB byte minimum when slicing is needed to keep row-dense files
    * under ~250k rows each. Downstream per-row consumers (bloom builds,
    * hash probes) cost by ROW, not by byte: the r20 SCALE record's one
    * `volume_driven` straggler was the post-compact band-bloom scan over
    * an 8M-row relation the byte floor had compacted to 8 one-row-group
    * files — 8 working tasks of ~1M bloom inserts each on a 32-slot
    * host, max task growing linearly in rows/file across the sf1→sf10
    * decade. ~250k rows keeps that task at a few hundred ms. */
  private[ext] val RowFloorPerFile = 250000L

  /** Output file count for a rewrite of `dir`: ceil(bytes/targetBytes),
    * optionally floored for scan parallelism. `parallelismFloor` asks for
    * at least that many files UNLESS the relation is too small to fill
    * them at ~8 MiB each — the r19 sf10 probe measured a serve-path
    * relation compacted to 1-2 files at the 256 MiB size target, which
    * collapsed every downstream scan to 1-2 tasks (a 6 s straggler in a
    * 17 s serve). Size-only callers (file compaction, whose CONTRACT is
    * the byte target) keep the default floor of 1. */
  def targetFileCount(spark: SparkSession, dir: String,
                      targetBytes: Long, parallelismFloor: Int = 1): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(parallelismFloor >= 1,
      s"parallelismFloor must be >= 1, got $parallelismFloor")
    val hfs = fs(spark, dir)
    val it = hfs.listFiles(new Path(dir), true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val sizeN = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
    // the floor binds only when the size target would compact BELOW the
    // requested scan parallelism; only then are footers consulted for the
    // row-aware term (driver-side metadata over the same bounded file
    // set — at real scale sizeN >= the floor and no footer is opened)
    val floorN =
      if (sizeN >= parallelismFloor) 1L
      else {
        val byBytes = bytes / (8L << 20)
        // rows of `dir` as it stands: DedupIndex.compact sizes BEFORE its
        // dropDuplicates, so a heavily duplicated relation is sliced for
        // its pre-dedup rows (over-slicing bounded by parallelismFloor)
        val byRows = parquetRowCount(spark, dir) / RowFloorPerFile
        math.min(parallelismFloor.toLong,
          math.max(1L, math.max(byBytes, byRows)))
      }
    val n = math.max(sizeN, floorN)
    require(n <= Int.MaxValue, s"computed $n output files — raise targetBytes")
    n.toInt
  }
}
