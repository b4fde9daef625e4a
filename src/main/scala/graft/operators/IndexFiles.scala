package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE copy of the crash-sensitive filesystem protocol shared by every
  * persisted family still on the rename swap (the MinHash near-dup and
  * cluster state, the residual IVF-PQ index, the aggregate state — the
  * BM25 index lives on [[VersionedStore]]), plus the write lease and
  * sidecar IO every family uses: staged-and-swap table rewrites, read-side
  * recovery from an interrupted swap, small sidecar file IO. Six
  * hand-rolled copies of rename choreography is how object-store fixes
  * drift apart — this object exists so a future change (e.g. a
  * manifest-based swap for S3) lands once. That manifest layer now
  * exists as [[VersionedStore]] (atomic multi-table commits, snapshot
  * isolation, time travel, vacuum): object-store deployments — and any
  * table whose readers outlive a compaction — should host state there;
  * the rename swap below stays the cheaper protocol on HDFS/POSIX.
  *
  * Swap protocol: stage written fully first, then rename(live, _old),
  * rename(stage, live), delete(_old). The crash window between the two
  * renames leaves no live directory; [[recoverInterruptedSwap]] (called
  * by every index read) renames `_old` back — the pre-swap table:
  * correct, just uncompacted. Rename is assumed atomic and O(1)
  * (HDFS/POSIX), NOT true on bare object stores — front those with a
  * manifest/pointer layer or a table format that owns the swap. After
  * any swap the path's file-status cache is evicted: a DataFrame handle
  * created before the swap must be re-read regardless (its captured
  * file list points at vanished parts). */
private[operators] object IndexFiles {

  def fs(spark: SparkSession, p: Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Read a file fully (the ONE copy of the chunked read-to-EOF loop —
    * trusting a single read() call truncates on chunked streams, the bug
    * class the lease reader fixed once already). */
  private[operators] def slurp(f: org.apache.hadoop.fs.FileSystem,
                               p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](1 << 16)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  /** Rewrite `dir/name` in place via the staged two-rename swap. The
    * stage write executes against the CURRENT live files; the renames
    * only happen after it is fully materialized. Not concurrency-safe
    * against a simultaneous writer (the standard LSM-style contract). */
  def stagedSwap(spark: SparkSession, dir: String, name: String)
                (rewrite: DataFrame => DataFrame): Unit =
      withWriteLease(spark, dir, s"stagedSwap($name)") {
    // self-recover first: if a PRIOR swap of this table crashed between
    // its renames, the live directory is missing and the documented
    // remedy — "re-run the operation" — would otherwise throw
    // PATH_NOT_FOUND on the read below instead of recovering (reads via
    // the index entry points recover, but a direct retry of the swap
    // itself must too: the streaming fold's at-least-once replay hits
    // exactly this path)
    recoverInterruptedSwap(spark, dir, name, s"stagedSwap($name)")
    val live = new Path(s"$dir/$name")
    val stage = new Path(s"$dir/_${name}_compact")
    val old = new Path(s"$dir/_${name}_old")
    rewrite(spark.read.parquet(live.toString))
      .write.mode("overwrite").parquet(stage.toString)
    val f = fs(spark, live)
    f.delete(old, true)
    require(f.rename(live, old),
      s"compaction swap failed for $live — rename to $old refused")
    // a concurrent READER's recoverInterruptedSwap can race the window
    // between the two renames (it sees live missing + _old present and
    // renames the pre-swap table back). The lease only serializes
    // writers, so re-check: if live reappeared it IS the pre-swap table
    // the stage result supersedes — re-park it under _old and finish the
    // swap (the naive rename would nest stage INSIDE the restored live on
    // HDFS, silently discarding the compaction). Re-parking, not deleting,
    // keeps the recovery invariant: a crash here still leaves live
    // missing + _old present, the state every read recovers from.
    if (f.exists(live)) {
      OpLog.warn("swap.reader_restored", s"stagedSwap($name): a concurrent reader " +
        s"restored $live mid-swap; finishing the swap over it")
      require(f.rename(live, old),
        s"compaction swap failed for $live — could not re-park the " +
          "reader-restored pre-swap table")
    }
    require(f.rename(stage, live),
      s"compaction swap failed for $live — index left under $old")
    f.delete(old, true)
    spark.catalog.refreshByPath(live.toString)
  }

  /** If `dir/name` is missing but `_name_old` exists (a swap crashed
    * between its two renames), rename the pre-swap table back into place.
    * Called at the top of every index read. */
  def recoverInterruptedSwap(spark: SparkSession, dir: String, name: String,
                             what: String): Unit = {
    val live = new Path(s"$dir/$name")
    val old = new Path(s"$dir/_${name}_old")
    val f = fs(spark, live)
    if (!f.exists(live) && f.exists(old)) {
      require(f.rename(old, live), s"$what recovery rename $old -> $live failed")
      spark.catalog.refreshByPath(live.toString)
      OpLog.warn("swap.recovered", s"$what: recovered $live from an interrupted " +
        "compaction swap (pre-compaction table restored)")
    }
  }

  /** Overwrite a small sidecar FILE (sketch bytes, meta json) with the
    * same two-rename discipline as the table swap — the naive
    * delete-then-create spelling has a crash window that loses the file
    * outright. [[readFileWithRecovery]] restores `_name_old` on read. */
  def writeFileSwap(spark: SparkSession, dir: String, name: String,
                    bytes: Array[Byte]): Unit = {
    val live = new Path(s"$dir/$name")
    val tmp = new Path(s"$dir/_${name}_tmp")
    val old = new Path(s"$dir/_${name}_old")
    val f = fs(spark, live)
    val out = f.create(tmp, true)
    try out.write(bytes) finally out.close()
    f.delete(old, false)
    if (f.exists(live)) require(f.rename(live, old),
      s"sidecar swap rename $live -> $old failed")
    require(f.rename(tmp, live), s"sidecar swap rename $tmp -> $live failed")
    f.delete(old, false)
  }

  /** Write-lease: turns the persisted families' "single writer — quiesce
    * writers before maintenance" scaladoc contract into a DETECTABLE
    * error. Every mutating entry point (appends, folds, rebuilds, and
    * [[stagedSwap]] itself) brackets its writes in [[withWriteLease]]:
    * a second concurrent writer or compactor on the same directory finds
    * a fresh `_write_lease.json` held by another owner and THROWS instead
    * of silently interleaving half-written tables — the worst failure
    * shape in this repo's taxonomy. The reference serializes DDL through
    * one master for the same reason
    * (`/root/reference/tajo-core/src/main/java/org/apache/tajo/master/exec/DDLExecutor.java`).
    *
    * Semantics and limits, stated plainly:
    *   - A lease is {owner, epochMs, what}; it is STALE once older than
    *     `ttlMs` (default 30 min — far past any single maintenance call
    *     here). A crashed writer's lease ages out and the next writer
    *     takes over with a loud stderr note (crash-age override); a
    *     writer that THROWS releases its lease in the finally. An
    *     unparseable lease (a writer crashed mid-acquisition) falls back
    *     to file mtime for staleness, so it too ages out instead of
    *     bricking the directory.
    *   - There is NO heartbeat: the TTL must exceed the longest wrapped
    *     body, or a live long-running build gets "taken over" by a retry
    *     and the two writers interleave. Deployments whose rebuilds can
    *     exceed 30 min must pass a larger `ttlMs` at every entry point to
    *     that directory — sized like any lock timeout.
    *   - Re-entrant within this JVM: one process owner id + a per-dir
    *     hold count, so a fold that internally swaps doesn't deadlock on
    *     its own lease. Two THREADS of one JVM are therefore NOT detected
    *     — the lease targets concurrent JOBS, the failure mode the LSM
    *     contract is about.
    *   - Acquisition is exclusive-create (atomic on HDFS/POSIX). On bare
    *     object stores without atomic create the check-create window
    *     narrows but does not close — the lease is a tripwire, not a
    *     distributed lock manager; deployments needing a guarantee front
    *     writes with a coordinator. */
  private val LeaseFile = "_write_lease.json"
  val DefaultLeaseTtlMs: Long = 30L * 60 * 1000
  private val processOwner = java.util.UUID.randomUUID().toString
  private val held = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  def withWriteLease[T](spark: SparkSession, dir: String, what: String,
                        ttlMs: Long = DefaultLeaseTtlMs)(body: => T): T = {
    val key = new Path(dir).toString
    val first = held.merge(key, 1, (a, b) => a + b) == 1
    // deletion is gated on actually having acquired: a FAILED acquisition
    // (fresh foreign lease) must never delete the other writer's lease
    var acquired = false
    try {
      if (first) { acquireLease(spark, dir, what, ttlMs); acquired = true }
      body
    } finally {
      val left = held.merge(key, -1, (a, b) => a + b)
      if (left <= 0) {
        held.remove(key)
        if (acquired) deleteMarker(spark, dir, LeaseFile)
      }
    }
  }

  private def acquireLease(spark: SparkSession, dir: String, what: String,
                           ttlMs: Long): Unit = {
    val p = new Path(s"$dir/$LeaseFile")
    val f = fs(spark, p)
    val now = System.currentTimeMillis()
    // None for a lease that does not parse — a writer that crashed between
    // creating the file and writing it (empty/truncated JSON). That lease
    // must not brick the directory forever: its STALENESS falls back to
    // the file's mtime, so the TTL takeover below still applies.
    def parse(bytes: Array[Byte]): Option[(String, Long, String)] = try {
      val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
      (j \ "owner", j \ "epochMs", j \ "what") match {
        case (org.json4s.JString(o), org.json4s.JInt(ms), org.json4s.JString(w)) =>
          Some((o, ms.toLong, w))
        case (org.json4s.JString(o), org.json4s.JLong(ms), org.json4s.JString(w)) =>
          Some((o, ms, w))
        case _ => None
      }
    } catch { case _: Throwable => None }
    if (f.exists(p)) {
      val bytes = slurp(f, p)
      val (owner, epochMs, heldBy) = parse(bytes).getOrElse {
        val mtime = f.getFileStatus(p).getModificationTime
        ("<unparseable>", mtime, "torn lease write (crashed mid-acquisition)")
      }
      val age = now - epochMs
      require(owner == processOwner || age > ttlMs,
        s"$what: concurrent writer detected at $dir — a fresh write lease " +
          s"(owner $owner, held by '$heldBy', age ${age / 1000}s, " +
          s"TTL ${ttlMs / 1000}s) is present; the persisted-index families " +
          "are single-writer (LSM contract) and a second concurrent " +
          "writer/compactor silently corrupts the index. Quiesce the other " +
          "writer; if the holder is known dead, wait out the TTL (or delete " +
          s"$LeaseFile after confirming no writer is live)")
      if (owner != processOwner) OpLog.warn("lease.stale_takeover",
        s"$what: taking over a STALE write lease at $dir " +
          s"(owner $owner, '$heldBy', age ${age / 1000}s > TTL ${ttlMs / 1000}s " +
          "— a crashed writer)")
      takeoverStale(f, dir, what, bytes)
    }
    // exclusive create (atomic on HDFS/POSIX): a racer that re-created the
    // file first wins and this writer fails loudly
    val out = try f.create(p, false) catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"$what: lost the write-lease race at $dir — another writer " +
          s"created $LeaseFile concurrently (${e.getMessage})")
    }
    try out.write(
      (s"""{"owner":"$processOwner","epochMs":$now,""" +
        s""""what":"${what.replace("\"", "'")}"}""").getBytes("UTF-8"))
    finally out.close()
    // post-create verify: a racer whose staleness judgment predates our
    // takeover can still have removed-and-replaced the file over us — the
    // lease is only held if the file now carries OUR owner id. A racer
    // can also rename the lease AWAY mid-verify (its takeover tombstone),
    // which surfaces as FileNotFound from the slurp — that too is
    // lost-the-race, not an I/O fault (ADVICE r13).
    val back = try parse(slurp(f, p)) catch {
      case _: java.io.FileNotFoundException => None
    }
    if (!back.exists(_._1 == processOwner)) throw new IllegalStateException(
      s"$what: lost the write-lease race at $dir — $LeaseFile changed hands " +
        s"right after acquisition (now held by ${back.map(_._1).getOrElse("<unparseable>")})")
  }

  /** CAS takeover of a STALE lease (VERDICT r12 #3): the old spelling —
    * delete(p) then exclusive create — let two takeover racers both
    * acquire (B, whose staleness judgment came from an earlier read,
    * deletes A's FRESH lease). Rename is the atomic arbiter: each racer
    * renames the stale file to its OWN tombstone, so exactly one rename
    * sees the source and the loser throws. If the renamed bytes are not
    * the stale lease this writer judged (a winner already took over AND
    * re-created — we just renamed the winner's fresh lease), restore it
    * and back off. private[operators] so the spec can drive two
    * interleaved takeovers deterministically. */
  private[operators] def takeoverStale(f: org.apache.hadoop.fs.FileSystem,
                                       dir: String, what: String,
                                       staleBytes: Array[Byte]): Unit = {
    val p = new Path(s"$dir/$LeaseFile")
    val tomb = new Path(
      s"$dir/_stale_lease_${java.util.UUID.randomUUID().toString.take(8)}")
    // a vanished source (FileNotFound on some FS impls, false on others)
    // means a racer claimed the stale lease between our read and here
    val renamed = try f.rename(p, tomb) catch {
      case _: java.io.FileNotFoundException => false
    }
    if (!renamed) throw new IllegalStateException(
      s"$what: lost the stale-lease takeover race at $dir — another " +
        s"writer claimed $LeaseFile first")
    val tombBytes = slurp(f, tomb)
    if (!java.util.Arrays.equals(tombBytes, staleBytes)) {
      // not the lease we judged stale: a racing taker's FRESH lease landed
      // between our read and our rename — put it back and lose loudly.
      // Restore only if p looks absent: POSIX rename overwrites, so if a
      // third writer exclusive-created a fresh lease at p after our losing
      // rename, renaming the tombstone back would clobber that third
      // writer's lease (ADVICE r13); drop the tombstone and lose instead.
      // This NARROWS the clobber window, it does not close it: a third
      // writer's create can still land between the exists() check and the
      // overwriting rename, and if its post-create verify already passed
      // its lease is silently replaced — best-effort loudness, the same
      // TOCTOU limit as VersionedStore.commit's post-rename verify. The
      // winner whose bytes we hold re-verifies its own lease post-create
      // and loses loudly if it was replaced before that verify.
      if (f.exists(p) || !f.rename(tomb, p)) f.delete(tomb, false)
      throw new IllegalStateException(
        s"$what: lost the stale-lease takeover race at $dir — the lease " +
          "changed hands during takeover (the winner's lease was restored)")
    }
    f.delete(tomb, false)
  }

  /** Intent markers: an empty `dir/name` file bracketing a multi-write
    * operation that is NOT atomic as a whole (a rebuild-in-place that
    * overwrites several tables and sidecars, a compaction that swaps two
    * tables in sequence). Created before the first write, deleted after
    * the last — a surviving marker means the bracket crashed midway and
    * the directory's tables may disagree with each other, which no
    * single-table recovery can detect. Callers check the marker and fail
    * loudly (or finish the bracketed operation) instead of silently
    * serving a mixed-incarnation state. */
  def createMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(s"$dir/$name")
    fs(spark, p).create(p, true).close()
  }

  def deleteMarker(spark: SparkSession, dir: String, name: String): Unit = {
    val p = new Path(s"$dir/$name")
    fs(spark, p).delete(p, false)
  }

  def markerExists(spark: SparkSession, dir: String, name: String): Boolean = {
    val p = new Path(s"$dir/$name")
    fs(spark, p).exists(p)
  }

  /** Read a small sidecar file fully, recovering `_name_old` if a
    * [[writeFileSwap]] crashed between its renames. None if absent. */
  def readFileWithRecovery(spark: SparkSession, dir: String,
                           name: String): Option[Array[Byte]] = {
    val live = new Path(s"$dir/$name")
    val old = new Path(s"$dir/_${name}_old")
    val f = fs(spark, live)
    if (!f.exists(live) && f.exists(old)) {
      require(f.rename(old, live), s"sidecar recovery rename $old -> $live failed")
      OpLog.warn("sidecar.recovered", s"recovered sidecar $live from an interrupted write")
    }
    if (!f.exists(live)) None
    else Some(slurp(f, live))
  }
}
