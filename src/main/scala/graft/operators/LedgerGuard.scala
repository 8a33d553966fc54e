package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-JVM coordination primitives for the at-rest ledgers
  * ([[DedupOps.compactLedger]], [[CurationOps.advanceStatsLedger]]).
  *
  * The staging/retire rename swap is safe against crashes (each rename
  * is atomic; a crash between them is self-healed by the next writer),
  * and in-JVM writers are serialized per path — but two PROCESSES
  * advancing the same ledger could interleave the rename pair and lose
  * a batch. [[withLease]] closes that hole best-effort with a lease
  * marker file: `create(path, overwrite = false)` is atomic on HDFS
  * (namenode-arbitrated), but on local filesystems Hadoop's
  * RawLocalFileSystem/ChecksumFileSystem implements it as
  * exists-then-create, so two processes racing inside that window can
  * BOTH acquire — on local/NFS deployments the lease is a best-effort
  * check-then-create, not mutual exclusion. In the non-racing case a
  * second writer FAILS FAST with an error naming the holder instead of
  * corrupting silently. The lease is best-effort by design — a plain
  * filesystem cannot promise more (no fencing tokens) — which is the
  * honest contract for an ingest cluster: the scheduler should not run
  * two compactions of one ledger, and if it does, one dies loudly.
  *
  * Staleness: a crashed holder leaves its marker behind. A lease older
  * than `staleAfterMs` is broken (deleted and re-acquired) so one crash
  * never wedges the pipeline permanently; the timeout must exceed the
  * longest legitimate swap (the staging write of a model-sized ledger —
  * minutes at most, so the 15-minute default is conservative).
  */
object LedgerGuard {

  /** Run `body` holding the lease marker `<target>.lock`. Throws
    * `IllegalStateException` naming the current holder when the lease
    * is taken and fresh; breaks and re-acquires a stale lease.
    */
  def withLease[T](fs: FileSystem, target: Path,
      staleAfterMs: Long = 15L * 60 * 1000)(body: => T): T = {
    val lock = target.suffix(".lock")
    // unique per ACQUISITION, not just per process: the identity-checked
    // release and the fresh-tomb check below compare against exactly
    // this token, so two acquisitions from one process never alias
    val holderInfo =
      s"${ProcessHandle.current.pid}@${java.net.InetAddress.getLocalHost.getHostName}" +
        s"/${java.lang.Long.toHexString(System.nanoTime)}"
    def tryAcquire(): Boolean = {
      val created =
        try Some(fs.create(lock, false)) // atomic create-fail-if-exists
        catch { case _: java.io.IOException => None }
      created match {
        case None => false
        case Some(out) =>
          try { out.write(holderInfo.getBytes("UTF-8")); out.close(); true }
          catch { case _: java.io.IOException =>
            // create succeeded but the holder-info write failed (disk
            // full, transient IO): the file on disk is OURS and garbage.
            // Remove it before reporting failure, or every writer —
            // including this one on retry — would be refused for
            // staleAfterMs behind an empty lease.
            try fs.delete(lock, false) catch { case _: java.io.IOException => () }
            false
          }
      }
    }
    def holderOf(): String =
      try {
        val in = fs.open(lock)
        try new String(in.readNBytes(256), "UTF-8") finally in.close()
      } catch { case _: java.io.IOException => "<unreadable>" }
    if (!tryAcquire()) {
      val stale =
        try System.currentTimeMillis - fs.getFileStatus(lock).getModificationTime > staleAfterMs
        catch { case _: java.io.IOException => true } // vanished: holder released; retry
      // Break a stale lease by RENAMING the observed file, never by
      // delete-then-create: of N writers that all judged the lease
      // stale, exactly one rename succeeds (the source vanishes for the
      // rest), so a slow second breaker can never delete the winner's
      // freshly re-acquired lease — the double-holder interleaving this
      // guard exists to prevent. The winner disposes of the tombstone.
      if (stale) {
        val tomb = lock.suffix(s".stale.${ProcessHandle.current.pid}.${System.nanoTime}")
        val broke = try fs.rename(lock, tomb) catch { case _: java.io.IOException => false }
        if (broke) {
          // TOCTOU guard: between our staleness check and the rename,
          // another breaker may have disposed of the stale file AND a
          // fresh lease may have been acquired — what we just renamed
          // could be that LIVE lease (rename preserves mtime, so the
          // tomb's age tells us which). A fresh tomb goes BACK; only a
          // genuinely stale one is disposed of.
          val tombFresh =
            try System.currentTimeMillis - fs.getFileStatus(tomb).getModificationTime <= staleAfterMs
            catch { case _: java.io.IOException => false }
          if (tombFresh) {
            // put-back fails only if yet another writer acquired in the
            // gap; the displaced holder's identity-checked release below
            // keeps it from deleting the usurper's lock. A plain
            // filesystem has no compare-and-swap to close this fully.
            if (!(try fs.rename(tomb, lock) catch { case _: java.io.IOException => false })) {
              try fs.delete(tomb, false) catch { case _: java.io.IOException => () }
            }
          } else {
            try fs.delete(tomb, false) catch { case _: java.io.IOException => () }
          }
        }
      }
      if (!tryAcquire())
        throw new IllegalStateException(
          s"ledger $target is locked by writer ${holderOf()} (lease $lock); " +
            "concurrent ledger writers would interleave the staging swap and lose a batch — " +
            s"wait for the holder or remove the lease if it is known dead")
    }
    try body finally {
      // release ONLY our own lease: if this holder's lease went stale
      // mid-body (a staging write longer than staleAfterMs) and another
      // writer broke it, the lock now belongs to THEM — deleting it
      // blindly would hand the path to a third writer while the second
      // still swaps. The read-then-delete here is itself a tiny window;
      // the alternative (no identity check) loses a generation, this
      // one at worst leaves a lease to expire.
      if (holderOf() == holderInfo) {
        try fs.delete(lock, false) catch { case _: java.io.IOException => () }
      }
    }
  }

  /** The staged-swap discipline every in-place ledger writer shares —
    * one implementation so a protocol fix (trailing-slash nesting and
    * the cross-JVM lease were both such fixes) lands everywhere at
    * once. Under the per-path in-JVM lock and the cross-JVM lease:
    * self-heal a crashed predecessor (target absent ⇒ promote the
    * complete staging generation, else restore the retired one), let
    * `writeStaging` materialize the new generation at the staging
    * sibling, then retire/promote with two renames (each atomic on
    * HDFS/local; a crash between them is the state the next call
    * heals). On failure to promote, the retired generation rolls back
    * so the ledger is never left absent. `writeStaging` runs only
    * AFTER the self-heal, so a merge reading the target binds a
    * present generation.
    *
    * Path construction normalizes a trailing slash; suffix() appends
    * to the FINAL NAME, so the siblings never nest inside the target
    * (raw "path" + ".staging" would, and the retire rename would then
    * try to move the directory into its own child).
    *
    * On object stores, where rename is copy+delete and create-no-
    * overwrite may not be atomic, the rename swap is unsound — use
    * MANIFEST mode there ([[convertToManifested]]; auto-detected by
    * this method and every reader): explicit generation directories
    * committed by replacing one pointer object, no directory renames
    * at all.
    *
    * Retry semantics: WITHOUT `batchId`, a crash between the two swap
    * renames followed by an application retry DOUBLE-APPLIES the batch —
    * the self-heal promotes the staging generation (merge already folded
    * in) and the retry merges again. Sum-based ledgers (stats n_docs/
    * n_tokens, sketch n_docs) inflate; anti-join ledgers merely store
    * duplicates. Passing a stable `batchId` closes this exactly-once:
    * the id rides inside the staging generation as an `_`-prefixed
    * marker file (invisible to parquet readers, promoted ATOMICALLY
    * with the rename), and an advance whose id matches the ledger's
    * last-applied marker is a no-op.
    *
    * The marker records the LAST id only — monotonic-retry semantics:
    * it absorbs the common failure (retry of the most recent batch,
    * which is the only one a crash can leave in doubt), not arbitrary
    * out-of-order replay (apply A, apply B, retry A re-applies A). A
    * scheduler that can replay older batches needs its own applied-set
    * bookkeeping. Advances that DON'T pass a batchId (compaction, any
    * ad-hoc rewrite) carry the target's existing sidecars forward into
    * the fresh generation — see the `_GRAFT_` copy loop below — so an
    * unmarked advance never ERASES the last-applied id (a micro-batch
    * retry straddling a compaction must still be recognized).
    */
  def advanceInPlace(spark: SparkSession, path: String, what: String,
      batchId: Option[String] = None)(
      writeStaging: String => Unit): Unit = advanceLocks
      .computeIfAbsent(path, _ => new Object).synchronized {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLease(fs, target) {
      if (isManifested(fs, target))
        advanceManifestedLocked(spark, fs, target, what, batchId)(writeStaging)
      else advancePlainLocked(spark, fs, target, what, batchId)(writeStaging)
    }
  }

  /** The plain-mode (rename-swap) advance — runs under the per-path
    * lock and the lease, dispatched from [[advanceInPlace]].
    */
  private def advancePlainLocked(spark: SparkSession, fs: FileSystem,
      target: Path, what: String, batchId: Option[String])(
      writeStaging: String => Unit): Unit = {
    {
      val staging = target.suffix(".staging")
      val retired = target.suffix(".old")
      if (!fs.exists(target)) {
        val healed =
          (fs.exists(staging) && fs.rename(staging, target)) ||
          (fs.exists(retired) && fs.rename(retired, target))
        if (!healed)
          throw new java.io.IOException(
            s"$what absent at $target and no staging/retired generation to restore")
      }
      val alreadyApplied = batchId.exists { id =>
        val marker = new Path(target, BatchMarker)
        try {
          val in = fs.open(marker)
          try new String(in.readNBytes(4096), "UTF-8") == id finally in.close()
        } catch { case _: java.io.IOException => false } // absent/unreadable: apply
      }
      if (!alreadyApplied) {
        writeStaging(staging.toString)
        batchId.foreach { id =>
          val out = fs.create(new Path(staging, BatchMarker), true)
          try out.write(id.getBytes("UTF-8")) finally out.close()
        }
        // Sidecar carry-forward: every `_GRAFT_*` file of the outgoing
        // generation that the staging generation does not already have
        // is copied in before the swap. This is what keeps an UNMARKED
        // advance (compaction passes batchId = None) from erasing the
        // exactly-once `_GRAFT_LAST_BATCH` marker — and keeps any other
        // generation-scoped metadata (e.g. the signature ledger's
        // `_GRAFT_SIG_META`) riding along with the data it describes.
        // A marked advance wrote its own fresh marker above, so the
        // copy loop skips it (staging already has the name).
        try {
          fs.listStatus(target).filter(_.isFile)
            .map(_.getPath.getName)
            .filter(_.startsWith(SidecarPrefix))
            .foreach { name =>
              val dst = new Path(staging, name)
              if (!fs.exists(dst))
                org.apache.hadoop.fs.FileUtil.copy(
                  fs, new Path(target, name), fs, dst, false, false,
                  spark.sparkContext.hadoopConfiguration)
            }
        } catch { case _: java.io.IOException => () } // carry is best-effort
        stepFailpoint("staged")
        fs.delete(retired, true)
        if (!fs.rename(target, retired))
          throw new java.io.IOException(s"$what swap: cannot retire $target")
        stepFailpoint("retired")
        if (!fs.rename(staging, target)) {
          fs.rename(retired, target) // roll back so the ledger is never absent
          throw new java.io.IOException(s"$what swap: cannot promote $staging")
        }
        stepFailpoint("promoted")
        fs.delete(retired, true)
      }
    }
  }

  /** Test-only crash injection, called with the name of each commit step
    * a ledger write has just completed — a swap's "staged", "retired",
    * "promoted" (plain mode) or "staged", "committed" (manifest mode),
    * and an append's "appended" ([[Ledger.append]]) — so a spec can crash
    * a lifecycle step between any two of them and prove the retry heals.
    * Production value is a no-op.
    */
  private[graft] var stepFailpoint: String => Unit = _ => ()

  /** Last-applied batch id, stored INSIDE the generation directory: the
    * `_` prefix hides it from parquet readers, and living inside the
    * dir means the swap rename carries it atomically with the data.
    */
  private val BatchMarker = "_GRAFT_LAST_BATCH"

  /** Name prefix of generation-scoped sidecar files (batch marker,
    * signature-ledger meta, ANN-index meta): `_`-prefixed so parquet
    * readers skip them, `_GRAFT_`-prefixed so [[advanceInPlace]] knows
    * which files to carry into a fresh generation on an unmarked
    * advance.
    */
  private[graft] val SidecarPrefix = "_GRAFT_"

  /** Write a `key=value` metadata sidecar into the generation an
    * APPENDER would target (current gen in manifest mode, the path in
    * plain mode) — the shared mechanism behind every self-describing
    * at-rest store ([[Ledger.Params]]): the parameters data was built
    * with must live WITH that data, because a caller-side default can
    * drift while the files cannot. Values must be newline-free.
    */
  private[graft] def writeSidecarMeta(spark: SparkSession, path: String,
      file: String, kv: Seq[(String, String)]): Unit = {
    require(kv.forall { case (k, v) => !k.contains('\n') && !v.contains('\n') },
      "sidecar keys/values must be newline-free")
    val dir = new Path(appendPath(spark, path))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, file), true)
    try out.write(kv.map { case (k, v) => s"$k=$v\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The metadata sidecar of the generation a READER would bind
    * (manifest pointer or staging fallback included), every `k=v` line
    * verbatim (values trimmed); None when the store predates the
    * sidecar or the file is unreadable.
    */
  private[graft] def readSidecarMeta(spark: SparkSession, path: String,
      file: String): Option[Map[String, String]] = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val gen = readablePath(fs, target)
      val in = fs.open(new Path(gen, file))
      val text = try new String(in.readNBytes(4096), "UTF-8") finally in.close()
      Some(text.linesIterator.flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k -> v.trim)
          case _ => None
        }
      }.toMap)
    } catch { case _: java.io.IOException => None }
  }

  // ------------------------------------------------------------------
  // MANIFEST mode — the object-store-safe commit protocol. The rename
  // swap above and the create-no-overwrite lease are both unsound on
  // S3-class stores (rename is copy+delete; exclusive-create may not
  // be exclusive). In manifest mode the ledger path is a DIRECTORY
  // holding explicit generation dirs (`gen-<seq>-<token>/`) plus one
  // small pointer file, `_GRAFT_MANIFEST`, naming the current
  // generation. A writer materializes the NEW generation completely,
  // then commits by REPLACING the manifest — one small-object write,
  // which object stores make atomic per object (readers see the old
  // or the new pointer, never a torn one). No directory is ever
  // renamed after creation, and a crash before the manifest replace
  // leaves an orphan generation the next advance garbage-collects —
  // the manifest stays authoritative throughout, so there is no
  // self-heal protocol at all.
  //
  // This also closes the plain-mode snapshot window: a reader binds
  // the generation DIRECTORY named by the manifest at plan time, and
  // that directory is immutable — a commit that lands between plan
  // and action switches the manifest, not the files the reader holds.
  // The previous generation is retained until the NEXT advance
  // (keep-2 retention, like any table format's version retention), so
  // in-flight readers keep a complete generation under them; only a
  // reader that lags TWO commits behind can lose its files.
  //
  // The lease is still taken (fail-fast where exclusive-create works;
  // best-effort on stores where it doesn't), but manifest mode no
  // longer depends on it for durability: racing writers both build
  // complete generations and the last manifest replace wins whole —
  // one batch is lost loudly (its seq never appears), never a torn
  // ledger. Exactly-once batchIds detect the common retry case either
  // way.
  // ------------------------------------------------------------------

  /** Pointer-file name of a manifest-mode ledger: `gen=<dir>\nseq=<n>`. */
  private[graft] val ManifestFile = SidecarPrefix + "MANIFEST"

  /** A ledger directory is manifest-mode iff its pointer file exists. */
  def isManifested(fs: FileSystem, target: Path): Boolean =
    try fs.exists(new Path(target, ManifestFile))
    catch { case _: java.io.IOException => false }

  private case class Manifest(gen: String, seq: Long)

  private def readManifest(fs: FileSystem, target: Path): Option[Manifest] =
    try {
      val in = fs.open(new Path(target, ManifestFile))
      val text = try new String(in.readNBytes(4096), "UTF-8") finally in.close()
      val kv = text.linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v.trim); case _ => None }
      }.toMap
      for (g <- kv.get("gen"); s <- kv.get("seq")) yield Manifest(g, s.toLong)
    } catch { case _: java.io.IOException | _: NumberFormatException => None }

  /** Replace the manifest as atomically as the filesystem allows:
    * write a temp sibling and rename over the target with
    * `Options.Rename.OVERWRITE` (atomic on HDFS and local FS; on S3A
    * the underlying single-object copy is itself an atomic object
    * replace); where FileContext rename is unavailable, fall back to a
    * direct overwrite-create — exactly the single PUT object stores
    * make atomic.
    */
  private def replaceManifest(fs: FileSystem, target: Path, m: Manifest): Unit = {
    val dst = new Path(target, ManifestFile)
    val bytes = s"gen=${m.gen}\nseq=${m.seq}\n".getBytes("UTF-8")
    val tmp = new Path(target,
      s"$ManifestFile.tmp.${ProcessHandle.current.pid}.${java.lang.Long.toHexString(System.nanoTime)}")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, fs.getConf)
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: Exception =>
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
        val out = fs.create(dst, true) // single-object overwrite PUT
        try out.write(bytes) finally out.close()
    }
  }

  private def genName(seq: Long): String =
    f"gen-$seq%06d-${java.lang.Long.toHexString(System.nanoTime)}"

  /** The directory APPENDERS should write into: the current generation
    * for a manifest-mode ledger, the path itself in plain mode. An
    * append is visible to readers as its files land (appends were
    * never atomic in either mode); the manifest protocol guards the
    * REPLACE operations (advance, compaction), which are the ones a
    * torn rename could corrupt.
    */
  def appendPath(spark: SparkSession, path: String): String = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, target)
      .map(m => new Path(target, m.gen).toString).getOrElse(path)
  }

  /** Last-applied exactly-once batch id recorded on a ledger (plain or
    * manifested), if any — the same `_GRAFT_LAST_BATCH` sidecar a marked
    * [[advanceInPlace]] promotes with its swap. Lets LSM-shaped callers
    * make a replayed batch a no-op for their APPEND legs too, not just
    * the guarded swap.
    */
  def lastAppliedBatchId(spark: SparkSession, path: String): Option[String] = {
    val dir = new Path(appendPath(spark, path))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val in = fs.open(new Path(dir, BatchMarker))
      try Some(new String(in.readNBytes(4096), "UTF-8")) finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Record `id` as a ledger's last-applied batch WITHOUT a data advance
    * — the no-merge leg of LSM-shaped advances, where there is nothing to
    * swap but the marker must still land or a hot retry loop re-appends
    * its (reader-tolerated) delta rows unbounded until compaction. A
    * direct sidecar create, not a staged swap: there is no data replace
    * to be atomic with, and the worst crash interleaving (appends landed,
    * marker missing) merely re-runs an append-tolerant advance — exactly
    * the pre-marker behavior.
    */
  def recordBatchApplied(spark: SparkSession, path: String, id: String): Unit = {
    val dir = new Path(appendPath(spark, path))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val out = fs.create(new Path(dir, BatchMarker), true)
    try out.write(id.getBytes("UTF-8")) finally out.close()
  }

  /** Convert a PLAIN ledger (parquet files directly under `path`) to
    * manifest mode in place: move the data files and `_GRAFT_*`
    * sidecars into `gen-000001-<token>/` and write the pointer. The
    * per-file moves are renames, so run the one-time conversion where
    * renames are sane (HDFS/local — e.g. before the ledger ships to
    * the object store) or create the ledger manifested from day one
    * (write it, then convert while it is still local). Idempotent:
    * a manifested ledger converts to itself.
    */
  def convertToManifested(spark: SparkSession, path: String): Unit = advanceLocks
      .computeIfAbsent(path, _ => new Object).synchronized {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    withLease(fs, target) {
      if (!isManifested(fs, target)) {
        if (!fs.exists(target))
          throw new java.io.FileNotFoundException(
            s"no ledger at $target to convert to manifest mode")
        val name = genName(1L)
        val gen = new Path(target, name)
        // list BEFORE creating the generation dir so it never moves
        // into itself; entries include partition DIRECTORIES (the ANN
        // index's bucket=... layout), not just flat data files
        val entries = fs.listStatus(target).map(_.getPath)
          .filter(_.getName != ManifestFile)
        fs.mkdirs(gen)
        entries.foreach { f =>
          if (!fs.rename(f, new Path(gen, f.getName)))
            throw new java.io.IOException(
              s"manifest conversion: cannot move $f into $gen")
        }
        replaceManifest(fs, target, Manifest(name, 1L))
      }
    }
  }

  /** The manifest-mode advance — runs under the per-path lock and the
    * lease, dispatched from [[advanceInPlace]]. Protocol documented on
    * the section header above.
    */
  private def advanceManifestedLocked(spark: SparkSession, fs: FileSystem,
      target: Path, what: String, batchId: Option[String])(
      writeStaging: String => Unit): Unit = {
    val m = readManifest(fs, target).getOrElse(throw new java.io.IOException(
      s"$what: unreadable manifest at $target"))
    val cur = new Path(target, m.gen)
    val alreadyApplied = batchId.exists { id =>
      try {
        val in = fs.open(new Path(cur, BatchMarker))
        try new String(in.readNBytes(4096), "UTF-8") == id finally in.close()
      } catch { case _: java.io.IOException => false }
    }
    if (!alreadyApplied) {
      val name = genName(m.seq + 1)
      val newGen = new Path(target, name)
      // the merge inside writeStaging reads the ledger via readLedger →
      // the manifest → `cur`, an immutable directory: a stable snapshot
      writeStaging(newGen.toString)
      batchId.foreach { id =>
        val out = fs.create(new Path(newGen, BatchMarker), true)
        try out.write(id.getBytes("UTF-8")) finally out.close()
      }
      // same sidecar carry-forward as plain mode (marker on unmarked
      // advances, signature meta, ...): from the outgoing generation
      try {
        fs.listStatus(cur).filter(_.isFile).map(_.getPath.getName)
          .filter(_.startsWith(SidecarPrefix))
          .foreach { n =>
            val dst = new Path(newGen, n)
            if (!fs.exists(dst))
              org.apache.hadoop.fs.FileUtil.copy(
                fs, new Path(cur, n), fs, dst, false, false,
                spark.sparkContext.hadoopConfiguration)
          }
      } catch { case _: java.io.IOException => () }
      stepFailpoint("staged")
      replaceManifest(fs, target, Manifest(name, m.seq + 1))
      stepFailpoint("committed")
      // keep-2 retention: everything except the new and the outgoing
      // generation goes — older generations in-flight readers may lag
      // on, and orphans of crashed attempts alike
      try {
        fs.listStatus(target).filter(_.isDirectory).map(_.getPath)
          .filter(p => p.getName.startsWith("gen-") &&
            p.getName != name && p.getName != m.gen)
          .foreach(p => try fs.delete(p, true) catch { case _: java.io.IOException => () })
      } catch { case _: java.io.IOException => () }
    }
  }

  /** Per-path in-JVM lock serializing the staged swaps: two concurrent
    * writers would materialize the same staging dir and interleave the
    * rename pair, losing one generation. One map across ALL ledger
    * families, so a stats advance and a compaction of the same path
    * serialize too. Across processes, [[withLease]] makes the second
    * writer fail fast naming the holder.
    */
  private val advanceLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** Read the ledger at `path` for any consumer, binding through the
    * read-only sibling fallback of [[readablePath]]. Honest limit,
    * documented once here for every call site: the path resolves NOW,
    * the parquet read happens at ACTION time — a swap that completes
    * in between can still fail the action with FileNotFound (rerun
    * succeeds; generations are content-equivalent for their readers).
    * Closing that fully needs snapshot isolation (a manifest/table
    * format), out of scope for plain-parquet ledgers.
    */
  def readLedger(spark: SparkSession, path: String): DataFrame = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = readablePath(fs, target)
    // schema sniffed on the DRIVER from one footer: every readLedger
    // otherwise pays a schema-inference Spark job (77 such jobs per
    // suite pass — the profiler's job-kind histogram), i.e. one driver
    // barrier per ledger read for information one footer already holds.
    // Spark-written files carry the exact original StructType JSON in
    // the footer's key-value metadata, so the sniffed schema is
    // BIT-IDENTICAL to what inference would return (inference prefers
    // the same key first); on any miss (no part files, foreign footer,
    // unreadable) fall back to normal inference.
    sniffSparkSchema(spark, fs, gen) match {
      case Some(st) => spark.read.schema(st).parquet(gen.toString)
      case None => spark.read.parquet(gen.toString)
    }
  }

  /** Total part-file bytes of the ledger's readable generation —
    * driver metadata only, no Spark job. The size-adaptive compaction
    * writers ([[LayoutOps.writeSized]]) use it to decide whether a fold
    * fits one output file: a fold's output never exceeds its input.
    */
  def readableDataBytes(spark: SparkSession, path: String): Long =
    try {
      val target = new Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(readablePath(fs, target))
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** [[readLedger]]'s footer sniff for any module-internal read of a
    * Spark-written store (models, code tables, probe indexes): same
    * result as `spark.read.parquet(path)`, without the per-read
    * schema-inference Spark job. Falls back to normal inference when
    * the footer carries no Spark row schema (foreign files) or the
    * sniff fails for any reason.
    */
  def readParquetSniffed(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    sniffSparkSchema(spark, fs, p) match {
      case Some(st) => spark.read.schema(st).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** [[readParquetSniffed]]'s variant for a ONE-LEVEL partitioned store
    * (`<dir>/<partitionCol>=<v>/part-*`): footer columns from one leaf
    * file plus the partition column appended (partition columns are not
    * in the footers; their directory-inferred type is supplied by the
    * caller, who owns the layout). None on any miss — callers fall back
    * to normal inference.
    */
  def sniffPartitionedSchema(spark: SparkSession, dir: String,
      partitionCol: String, partitionType: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.StructType] =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p)
        .find(st => st.isDirectory &&
          st.getPath.getName.startsWith(partitionCol + "="))
        .flatMap(sub => sniffSparkSchema(spark, fs, sub.getPath))
        .map(_.add(partitionCol, partitionType))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Driver-side footer sniff for [[readLedger]]: the Spark row-schema
    * JSON from the first part file's footer metadata, if present.
    */
  private def sniffSparkSchema(spark: SparkSession, fs: FileSystem,
      gen: Path): Option[org.apache.spark.sql.types.StructType] =
    try {
      fs.listStatus(gen)
        .find(st => st.isFile && st.getPath.getName.startsWith("part-") &&
          st.getPath.getName.endsWith(".parquet"))
        .flatMap { st =>
          val conf = spark.sparkContext.hadoopConfiguration
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              st.getPath, conf),
            org.apache.parquet.HadoopReadOptions.builder(conf)
              .withMetadataFilter(org.apache.parquet.format.converter
                .ParquetMetadataConverter.SKIP_ROW_GROUPS)
              .build())
          val footer =
            try reader.getFooter finally reader.close()
          Option(footer.getFileMetaData.getKeyValueMetaData
              .get("org.apache.spark.sql.parquet.row.metadata"))
            .flatMap { json =>
              org.apache.spark.sql.types.DataType.fromJson(json) match {
                case s: org.apache.spark.sql.types.StructType => Some(s)
                case _ => None
              }
            }
        }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[readLedger]] with an explicit schema — required for ledgers
    * whose CURRENT generation may hold zero parquet files (an empty
    * table write emits no footers, so schema inference fails), e.g.
    * the cluster ledger's remap table before any cluster ever merged.
    */
  def readLedgerWithSchema(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.schema(schema).parquet(readablePath(fs, target).toString)
  }

  /** The path a READER of the ledger should load. Manifest mode binds
    * the generation directory the pointer names — an immutable dir, so
    * the plan-vs-action caveat above disappears (keep-2 retention: only
    * lagging TWO commits behind can lose it). Plain mode: the target
    * itself normally; if the target is absent (the window between a
    * writer's two swap renames, or a crash there), fall back READ-ONLY
    * to the staging sibling (written complete before the target is ever
    * retired) or the retired one. Readers never rename — mutating here
    * would race the writer's own promote/rollback.
    */
  def readablePath(fs: FileSystem, target: Path): Path = {
    readManifest(fs, target) match {
      case Some(m) => return new Path(target, m.gen)
      case None => ()
    }
    if (fs.exists(target)) target
    else {
      val staging = target.suffix(".staging")
      val retired = target.suffix(".old")
      if (fs.exists(staging)) staging
      else if (fs.exists(retired)) retired
      else throw new java.io.FileNotFoundException(
        s"ledger absent at $target with no staging/retired generation to read")
    }
  }
}
