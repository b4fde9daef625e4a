package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-versioned table store — the "manifest/pointer layer" that
  * [[IndexFiles]]' staged-swap scaladoc defers to, built as a first-class
  * operator: dataset snapshots for training corpora and index tables,
  * with atomic multi-table commits, snapshot-isolated readers, time
  * travel, version diffs for incremental processing, and a safe vacuum.
  * The reference versions nothing — a Tajo `INSERT OVERWRITE` clobbers
  * the previous table in place
  * (`/root/reference/tajo-core/src/main/java/org/apache/tajo/master/exec/QueryExecutor.java`
  * drives overwrite through a staging-dir rename with no history); at
  * 100 TB the pipeline NEEDS the history: reprocess only what changed,
  * audit what a model trained on, and compact without stopping readers.
  *
  * Layout under `dir/`:
  *   - `_segments/<uuid>/` — immutable parquet directories, written
  *     exactly once, NEVER modified or appended to after their commit.
  *   - `_manifests/v%08d.json` — one immutable JSON per version:
  *     `{version, parent, note, tables: {name: [segment, ...]}}`. The
  *     CURRENT version is simply the highest parseable manifest.
  *
  * The commit is ONE file materialization (write to a dot-tmp, rename to
  * `vN.json`), which buys what the index families' rename choreography
  * had to argue case-by-case:
  *   - **Atomic multi-table commits.** A version replaces any number of
  *     table segment-lists at once, so a two-table torn window (the
  *     rename-swap MinHash index's "sigs appended, bands not yet"; the
  *     BM25 index keeps its `postings` + `doclens` here for this reason,
  *     see [[Retrieval]]) is UNREPRESENTABLE here — there is no
  *     observable state between versions, hence no intent markers, no
  *     swap-order reasoning, and no recovery protocol at read.
  *   - **Snapshot isolation.** A reader pins a manifest; every file it
  *     will ever touch is immutable, so a compaction (or a hundred) can
  *     commit underneath a running 6-hour scan without a vanished-file
  *     failure — the staged swap's documented "re-read after compaction"
  *     caveat disappears. Readers pay nothing: no locks, no lease.
  *   - **Crash safety by construction.** A writer that dies mid-segment
  *     leaves an unreferenced `_segments/` dir no reader can see; the
  *     next [[vacuum]] reclaims it. A writer that dies before its rename
  *     leaves a dot-tmp the manifest listing ignores. There is no torn
  *     state to detect because no state is visible until the rename.
  *   - **Time travel and lineage.** `snapshot(dir, version)` reads any
  *     un-vacuumed version; [[diff]] feeds incremental processing
  *     ("process only segments added since my checkpoint version") —
  *     batch-sized work against a corpus-sized store.
  *
  * Concurrency: writers serialize through [[IndexFiles.withWriteLease]]
  * (same single-writer contract as the persisted-index families), and the
  * commit rename doubles as optimistic concurrency control — two racing
  * writers compute the same next version and the second rename fails on
  * the existing destination, loudly. Vacuum also runs under the lease,
  * which is what makes "delete every unreferenced segment" safe: no
  * writer can be mid-append while vacuum sweeps. Readers of vacuumed
  * versions fail loudly with the available range.
  *
  * Scale notes: manifests list segment NAMES, so a manifest is O(number
  * of commits since compaction) — compaction resets it to one segment per
  * table. At extreme commit rates (many thousands of appends between
  * compactions) the JSON listing itself becomes the bottleneck; that is
  * the point where a real deployment shards the manifest (Iceberg-style
  * manifest lists) — out of scope here, the contract is the same. The
  * rename-commit assumes atomic rename (HDFS/POSIX); on a bare object
  * store use its put-if-absent primitive for the manifest PUT — segments
  * never rename, so THIS layer, unlike the staged swap, has exactly one
  * object-store-sensitive operation. */
object VersionedStore {

  /** One immutable segment plus its zero-config statistics: row count and
    * per-column min/max for every top-level INTEGRAL column (long/int/
    * short/byte, stored as long) — parquet row-group stats lifted one
    * level, so readers can skip whole segments without opening a footer.
    * Computed from the STORED files after the write (not from a second
    * evaluation of the batch plan, which a non-deterministic batch could
    * drift from), so the stats are true of the bytes by construction.
    * Columns absent from the maps (non-integral, or all-null in this
    * segment) are simply not prunable — reads stay conservative. */
  final case class SegMeta(name: String, rows: Long,
                           min: Map[String, Long], max: Map[String, Long])

  /** Sentinel row count for a segment from a pre-statistics manifest —
    * [[Snapshot.rowCount]] falls back to counting, everything else treats
    * the segment as stat-less (conservative). [[restampStats]] upgrades
    * a whole store to real stats in one commit. */
  val UnknownRows: Long = -1L

  /** `tag` is [[appendOnce]]'s idempotence key, a field of its OWN so the
    * ledger can never be matched by a free-form `note` (ADVICE r12: the
    * old lookup matched ANY prior note, so a caller note equal to a future
    * tag silently discarded a real batch — silent data loss). Plain
    * [[append]]/[[rewrite]]/[[create]] commits carry no tag. */
  final case class Manifest(version: Long, parent: Long, note: String,
                            tables: Map[String, Seq[SegMeta]],
                            tag: Option[String] = None)

  /** A pinned, immutable view of one version. Every [[table]] call reads
    * only segments the manifest names — commits after the pin are
    * invisible, and the named files cannot change (segments are
    * immutable). They CAN vanish: [[vacuum]] has no reader awareness
    * (readers hold no lease) and Spark opens segment files lazily, so a
    * vacuum past this version during an in-flight scan kills the scan on
    * its next file open. Retention is the only guard — size `keepLast`
    * to exceed the longest reader, exactly the [[appendOnce]]
    * replay-horizon contract; the next pin of a vacuumed version then
    * fails loudly at [[snapshot]] rather than mid-scan. */
  final case class Snapshot(spark: SparkSession, dir: String, manifest: Manifest) {
    def version: Long = manifest.version

    def tableNames: Seq[String] = manifest.tables.keys.toSeq.sorted

    private def segsOf(name: String): Seq[SegMeta] =
      manifest.tables.getOrElse(name,
        throw new IllegalArgumentException(
          s"VersionedStore: no table '$name' in version ${manifest.version} " +
            s"at $dir — tables: ${tableNames.mkString(", ")}"))

    def table(name: String): DataFrame = {
      val segs = segsOf(name)
      spark.read.parquet(segs.map(s => s"$dir/_segments/${s.name}"): _*)
    }

    /** Exact row count from the manifest statistics — O(1), no file I/O.
      * (Stats are computed from the stored bytes at write time.) Falls
      * back to a real count when any segment predates the statistics
      * format; [[restampStats]] upgrades the store. */
    def rowCount(name: String): Long = {
      val segs = segsOf(name)
      if (segs.exists(_.rows == UnknownRows)) table(name).count()
      else segs.map(_.rows).sum
    }

    /** Rows of `name` with `col` in [lo, hi], reading ONLY the segments
      * whose stored min/max overlap the range — segment-level pruning,
      * the versioned store's partition elimination: an id- or time-window
      * consumer over a 10k-segment corpus opens the handful of segments
      * that can match, before parquet's own row-group stats prune further.
      * Segments without stats for `col` (non-integral, all-null, or a
      * legacy write) are read conservatively. The range filter is still
      * applied, so the result is exactly `table(name).filter(col between
      * lo and hi)` — pruning changes I/O, never the answer. */
    def tableRange(name: String, col: String, lo: Long, hi: Long): DataFrame = {
      require(lo <= hi, s"VersionedStore.tableRange: lo=$lo > hi=$hi")
      val segs = segsOf(name)
      val candidates = segs.filter { s =>
        (s.min.get(col), s.max.get(col)) match {
          case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
          case _ => true // no stats for this column — cannot skip
        }
      }
      val pred = org.apache.spark.sql.functions.col(s"`$col`").between(lo, hi)
      if (candidates.isEmpty)
        // preserve the schema without scanning data (segments exist —
        // create/append never commit an empty table)
        spark.read.parquet(s"$dir/_segments/${segs.head.name}").limit(0).filter(pred)
      else spark.read.parquet(
        candidates.map(s => s"$dir/_segments/${s.name}"): _*).filter(pred)
    }
  }

  private def manifestsPath(dir: String) = new Path(s"$dir/_manifests")
  private def manifestName(v: Long) = f"v$v%08d.json"
  // 8+ digits, not exactly 8: %08d is a MINIMUM width, so version 1e8
  // commits a 9-digit name — an exact-8 pattern would then brick every
  // listing with the unrecognized-file error at the store's own commit
  // count. Numeric sort below, so width never orders.
  private val ManifestRe = """^v(\d{8,})\.json$""".r

  private def fs(spark: SparkSession, dir: String) =
    IndexFiles.fs(spark, new Path(dir))

  /** All committed version numbers, ascending; empty for a fresh dir.
    * Dot-tmp files (a writer that crashed before its commit rename) are
    * ignored; any OTHER unrecognized name in `_manifests/` throws — a
    * silently skipped manifest would time-travel readers backwards. */
  def versionNumbers(spark: SparkSession, dir: String): Seq[Long] = {
    val p = manifestsPath(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filterNot(_.startsWith("."))
      .map {
        case ManifestRe(n) => n.toLong
        case other => throw new IllegalStateException(
          s"VersionedStore: unrecognized file '$other' in $p — not a " +
            "manifest (vNNNNNNNN.json) or an in-flight dot-tmp; refusing " +
            "to guess which versions exist")
      }.sorted
  }

  private def readManifest(spark: SparkSession, dir: String, v: Long): Manifest = {
    val p = new Path(manifestsPath(dir), manifestName(v))
    val f = fs(spark, dir)
    if (!f.exists(p)) {
      val have = versionNumbers(spark, dir)
      throw new IllegalArgumentException(
        s"VersionedStore: version $v not found at $dir — vacuumed or never " +
          s"committed; available: ${if (have.isEmpty) "none" else have.mkString(", ")}")
    }
    parseManifest(dir, v, new String(IndexFiles.slurp(f, p), "UTF-8"))
  }

  private def parseManifest(dir: String, v: Long, s: String): Manifest = {
    import org.json4s._
    val j = try org.json4s.jackson.JsonMethods.parse(s) catch {
      case e: Throwable => throw new IllegalStateException(
        s"VersionedStore: manifest v$v at $dir does not parse (${e.getMessage}) " +
          "— a manifest is committed atomically, so this is external " +
          "corruption, not a crash window; restore it or vacuum past it")
    }
    def long(name: String): Long = (j \ name) match {
      case JInt(x) => x.toLong
      case JLong(x) => x
      case other => throw new IllegalStateException(
        s"VersionedStore: manifest v$v at $dir field $name = $other")
    }
    val note = (j \ "note") match { case JString(x) => x; case _ => "" }
    // optional: absent from plain commits and every pre-tag manifest
    val tag = (j \ "tag") match { case JString(x) => Some(x); case _ => None }
    def longsOf(name: String, seg: String, o: JValue): Map[String, Long] = o match {
      case JObject(fs) => fs.map {
        case (c, JInt(x)) => c -> x.toLong
        case (c, JLong(x)) => c -> x
        case (c, other) => throw new IllegalStateException(
          s"VersionedStore: manifest v$v at $dir table $name seg $seg stat $c = $other")
      }.toMap
      case JNothing => Map.empty
      case other => throw new IllegalStateException(
        s"VersionedStore: manifest v$v at $dir table $name seg $seg stats = $other")
    }
    val tables = (j \ "tables") match {
      case JObject(fields) => fields.map {
        case (name, JArray(segs)) => name -> segs.map {
          // pre-statistics manifests listed bare segment-name strings;
          // accept them as stat-less segments (rows = UnknownRows) so an
          // older store stays readable — rowCount falls back to a real
          // count and every pruning/stat check treats them conservatively
          case JString(seg) => SegMeta(seg, UnknownRows, Map.empty, Map.empty)
          case o @ JObject(_) =>
            val segName = (o \ "seg") match {
              case JString(s) => s
              case other => throw new IllegalStateException(
                s"VersionedStore: manifest v$v at $dir table $name seg = $other")
            }
            val rows = (o \ "rows") match {
              case JInt(x) => x.toLong
              case JLong(x) => x
              case other => throw new IllegalStateException(
                s"VersionedStore: manifest v$v at $dir table $name seg $segName rows = $other")
            }
            SegMeta(segName, rows,
              longsOf(name, segName, o \ "min"), longsOf(name, segName, o \ "max"))
          case other => throw new IllegalStateException(
            s"VersionedStore: manifest v$v at $dir table $name segment = $other")
        }
        case (name, other) => throw new IllegalStateException(
          s"VersionedStore: manifest v$v at $dir table $name = $other")
      }.toMap
      case other => throw new IllegalStateException(
        s"VersionedStore: manifest v$v at $dir tables = $other")
    }
    require(long("version") == v,
      s"VersionedStore: manifest file ${manifestName(v)} at $dir claims " +
        s"version ${long("version")} — file renamed by hand?")
    Manifest(v, long("parent"), note, tables, tag)
  }

  private def jsonOf(m: Manifest): String = {
    // escape control characters too (same discipline as graft.Verify's
    // oracle-json writer): a caller note containing a newline would
    // otherwise commit a manifest that is syntactically invalid JSON —
    // permanently unreadable, with the parse error blaming "external
    // corruption" for a legal input string
    def esc(s: String) = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def statsJson(stats: Map[String, Long]): String =
      stats.toSeq.sortBy(_._1)
        .map { case (c, x) => s""""${esc(c)}":$x""" }.mkString("{", ",", "}")
    def segJson(s: SegMeta): String =
      s"""{"seg":"${esc(s.name)}","rows":${s.rows},""" +
        s""""min":${statsJson(s.min)},"max":${statsJson(s.max)}}"""
    val tables = m.tables.toSeq.sortBy(_._1).map { case (n, segs) =>
      s""""${esc(n)}":[${segs.map(segJson).mkString(",")}]"""
    }.mkString(",")
    val tagField = m.tag.map(t => s""""tag":"${esc(t)}",""").getOrElse("")
    s"""{"version":${m.version},"parent":${m.parent},"note":"${esc(m.note)}",$tagField"tables":{$tables}}"""
  }

  // The commit: materialize the manifest under a dot-tmp (invisible to
  // versionNumbers), then rename to its final name. Rename-to-existing
  // fails on HDFS; POSIX rename(2) (and Hadoop's RawLocalFileSystem on
  // Linux) OVERWRITES an existing destination, so on a local filesystem
  // the exists() pre-check is TOCTOU and a true racer landing inside the
  // window would silently clobber the winner's manifest — hence the
  // post-rename content verify below, which turns the clobber into a
  // loud loss for whichever writer's bytes did not survive. All of this
  // is OCC backstopping the write lease, not replacing it. private[graft]
  // so the spec can drive the race window directly (two real writers
  // can't be interleaved deterministically from a test).
  private[graft] def commit(spark: SparkSession, dir: String, m: Manifest): Long = {
    val f = fs(spark, dir)
    f.mkdirs(manifestsPath(dir))
    val tmp = new Path(manifestsPath(dir),
      s".tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val bytes = jsonOf(m).getBytes("UTF-8")
    val out = f.create(tmp, false)
    try out.write(bytes) finally out.close()
    val dest = new Path(manifestsPath(dir), manifestName(m.version))
    if (f.exists(dest) || !f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"VersionedStore: lost the commit race for version ${m.version} at " +
          s"$dir — another writer committed it first (the write lease " +
          "should have prevented this; check for a second uncoordinated " +
          "writer)")
    }
    // post-rename verify: where rename overwrites (POSIX), the loser of a
    // same-version race USUALLY finds the winner's bytes here and throws
    // instead of silently believing its clobbered-or-clobbering commit.
    // It NARROWS the TOCTOU window, it does not close it: if racer B's
    // overwriting rename lands after racer A's verify read, both verifies
    // pass and A's manifest is silently replaced — the write lease remains
    // the real single-writer guard; this is best-effort loudness only.
    if (!java.util.Arrays.equals(IndexFiles.slurp(f, dest), bytes))
      throw new IllegalStateException(
        s"VersionedStore: lost the commit race for version ${m.version} at " +
          s"$dir — the committed manifest is another writer's (rename " +
          "overwrote on this filesystem); check for a second uncoordinated " +
          "writer")
    m.version
  }

  // Write each table's segment straight from its plan — ONE evaluation,
  // no checkpoint — then stamp it FROM THE STORED FILES: a second
  // evaluation of a non-deterministic batch plan could produce stats the
  // stored rows don't satisfy (pruning would then silently drop matching
  // rows, the worst failure shape here), and emptiness is simply the row
  // count the stamp reads anyway. The tables' segments are disjoint
  // directories with no order between them (nothing is visible before the
  // commit), so they are written concurrently. A zero-row segment (Spark
  // writes one schema-only file for an empty plan) is deleted before any
  // commit; an uncommitted one is invisible either way (a crash before
  // the delete, or a failed sibling write, leaves an orphan that vacuum
  // reclaims). Returns the non-empty tables' segments.
  private def writeSegments(spark: SparkSession, dir: String,
                            tables: Map[String, DataFrame]): Map[String, SegMeta] = {
    val written = new java.util.concurrent.ConcurrentHashMap[String, SegMeta]()
    Jobs.concurrently(tables.toSeq.map { case (n, df) => () =>
      val name = java.util.UUID.randomUUID().toString.take(12)
      df.write.mode("error").parquet(s"$dir/_segments/$name")
      written.put(n, statsOf(spark, dir, name))
      ()
    }: _*)
    import scala.jdk.CollectionConverters._
    val (full, empty) = written.asScala.toMap.partition(_._2.rows > 0)
    deleteSegments(spark, dir, empty.values)
    full
  }

  private def deleteSegments(spark: SparkSession, dir: String,
                             segs: Iterable[SegMeta]): Unit =
    segs.foreach(s => fs(spark, dir).delete(new Path(s"$dir/_segments/${s.name}"), true))

  // create and rewrite refuse an empty table: its zero-row segment would
  // defeat schema inference at read (the shape append skips). The written
  // siblings are deleted so the refused call leaves nothing behind.
  private def requireNonEmpty(spark: SparkSession, dir: String, what: String,
                              tables: Iterable[String],
                              written: Map[String, SegMeta]): Unit = {
    val empty = tables.filterNot(written.contains).toSeq.sorted
    if (empty.nonEmpty) {
      deleteSegments(spark, dir, written.values)
      throw new IllegalArgumentException(
        s"$what: table(s) ${empty.mkString(", ")} EMPTY — a zero-row segment " +
          "defeats schema inference at read; seed the store with a real " +
          "batch, or keep at least a sentinel row if a retention filter " +
          "was intentional")
    }
  }

  /** Statistics of a stored segment, from its bytes: exact row count
    * (row-group metadata) + min/max per integral column (columnar scan).
    * The one stats producer — writes, restamps, AND the auditor's
    * recomputation ([[IndexFsck.checkVersionedStore]]) share it, so the
    * stamp and the recomputation can never disagree by construction.
    * Column references are backtick-quoted: a dotted column name would
    * otherwise parse as nested-field access and fail the write. */
  private[operators] def statsOf(spark: SparkSession, dir: String,
                                 name: String): SegMeta = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val stored = spark.read.parquet(s"$dir/_segments/$name")
    val statCols = stored.schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) =>
        f.name
    }.toSeq
    val aggs = count(lit(1)).cast("long").as("__rows") +: statCols.flatMap(c =>
      Seq(min(col(s"`$c`")).cast("long").as(s"__mn_$c"),
        max(col(s"`$c`")).cast("long").as(s"__mx_$c")))
    val row = stored.agg(aggs.head, aggs.tail: _*).collect().head
    val mins = statCols.zipWithIndex.flatMap { case (c, i) =>
      if (row.isNullAt(1 + 2 * i)) None else Some(c -> row.getLong(1 + 2 * i))
    }.toMap
    val maxs = statCols.zipWithIndex.flatMap { case (c, i) =>
      if (row.isNullAt(2 + 2 * i)) None else Some(c -> row.getLong(2 + 2 * i))
    }.toMap
    SegMeta(name, row.getLong(0), mins, maxs)
  }

  /** Re-stamp the latest version's statistics from the stored bytes —
    * the named repair for [[IndexFsck.checkVersionedStore]]'s stat
    * mismatches (wrong stats make range pruning silently drop rows).
    * Manifests are immutable, so the fix is a NEW version carrying the
    * SAME segment files with recomputed stats, not an edit; older
    * versions keep their (possibly wrong) stamps until vacuumed. Costs
    * one store scan, same as the check. */
  def restampStats(spark: SparkSession, dir: String,
                   note: String = "restamp stats"): Long =
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.restampStats") {
      val cur = snapshot(spark, dir).manifest
      val tables = cur.tables.map { case (n, segs) =>
        n -> segs.map(s => statsOf(spark, dir, s.name))
      }
      commit(spark, dir, Manifest(cur.version + 1, cur.version, note, tables))
    }

  /** Pin a snapshot of `version` (default: the latest). */
  def snapshot(spark: SparkSession, dir: String,
               version: Option[Long] = None): Snapshot = {
    val v = version.getOrElse {
      val have = versionNumbers(spark, dir)
      require(have.nonEmpty,
        s"VersionedStore: no versions at $dir — not a versioned store " +
          "(or never created)")
      have.last
    }
    Snapshot(spark, dir, readManifest(spark, dir, v))
  }

  /** Audit listing: every un-vacuumed manifest, ascending. */
  def versions(spark: SparkSession, dir: String): Seq[Manifest] =
    versionNumbers(spark, dir).map(readManifest(spark, dir, _))

  /** Create version 1 with the given tables. Refuses a dir that already
    * has versions (this is a constructor, not an overwrite). */
  def create(spark: SparkSession, dir: String, tables: Map[String, DataFrame],
             note: String = "create"): Long =
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.create") {
      require(versionNumbers(spark, dir).isEmpty,
        s"VersionedStore.create: $dir already has versions — use append/" +
          "rewrite, or vacuum a retired store away explicitly")
      require(tables.nonEmpty, "VersionedStore.create: no tables")
      val segs = writeSegments(spark, dir, tables)
      requireNonEmpty(spark, dir, "VersionedStore.create", tables.keys, segs)
      commit(spark, dir, Manifest(1L, 0L, note, segs.map { case (n, seg) => n -> Seq(seg) }))
    }

  /** Append one batch per named table as a SINGLE commit — every table's
    * new segment becomes visible in the same version, or none does (the
    * multi-table atomicity the staged-swap families approximate with
    * intent markers). Tables absent from `batches` carry forward
    * unchanged; a batch for a table the store doesn't have yet creates
    * it. A batch whose schema disagrees with the table's stored segments
    * is REFUSED: parquet infers a multi-segment table's schema from one
    * arbitrary footer, so a drifted append would silently drop or null
    * the new column depending on file listing order — schema changes go
    * through [[rewrite]], which re-materializes every row in the new
    * shape. NOT idempotent under at-least-once retries: a replayed append
    * commits a second version with the same rows — use [[appendOnce]]
    * (the manifest tag ledger) when the caller's delivery semantics are
    * at-least-once. */
  def append(spark: SparkSession, dir: String, batches: Map[String, DataFrame],
             note: String = "append"): Long =
    appendImpl(spark, dir, batches, note, tag = None)

  private def appendImpl(spark: SparkSession, dir: String,
                         batches: Map[String, DataFrame], note: String,
                         tag: Option[String]): Long =
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.append") {
      require(batches.nonEmpty, "VersionedStore.append: no batches")
      val snap = snapshot(spark, dir)
      val cur = snap.manifest
      batches.foreach { case (n, df) =>
        if (cur.tables.contains(n)) {
          def shape(s: org.apache.spark.sql.types.StructType) =
            s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
          val stored = shape(snap.table(n).schema)
          val batch = shape(df.schema)
          require(stored == batch,
            s"VersionedStore.append: batch schema for table '$n' disagrees " +
              s"with the stored segments — stored ${stored.mkString(", ")}; " +
              s"batch ${batch.mkString(", ")}. Appends must match; evolve " +
              "the schema through rewrite (re-materializes every row)")
        }
      }
      // empty batches are skipped (writeSegments drops them): an all-empty
      // append committing a new version would make every at-least-once
      // replay a version-history write (same guard as the index families'
      // empty-novel appends). Schema checks above run BEFORE any write
      // (fail-fast discipline, same as the index appends).
      val appended = writeSegments(spark, dir, batches)
      if (appended.isEmpty) cur.version
      else {
        val tables = (cur.tables.keySet ++ appended.keySet).map { n =>
          n -> (cur.tables.getOrElse(n, Seq.empty) ++ appended.get(n).toSeq)
        }.toMap
        commit(spark, dir, Manifest(cur.version + 1, cur.version, note, tables, tag))
      }
    }

  /** Idempotent [[append]] for at-least-once delivery: `tag` names the
    * batch (it becomes the version's note), and a tag some un-vacuumed
    * version already carries makes the call a NO-OP returning that
    * version — so a replayed trigger commits nothing instead of a
    * duplicate version with the same rows. The check and the append hold
    * ONE lease (a racing replay of the same batch cannot double-commit
    * between them). The manifest history IS the tag ledger, so
    * [[vacuum]]'s `keepLast` must exceed the caller's replay horizon —
    * with a durable streaming checkpoint Spark replays at most the last
    * uncommitted trigger, so the default keepLast=2 suffices; vacuuming
    * the ledger shorter than the horizon re-opens the duplicate (the
    * same contract as the aggregate state's compaction-proof
    * `_tags.json`, priced here as a retention knob instead of an
    * append-only sidecar). Cost: one manifest-listing scan per call,
    * O(versions since vacuum). */
  def appendOnce(spark: SparkSession, dir: String,
                 batches: Map[String, DataFrame], tag: String): Long = {
    // tags live in their own manifest field (ADVICE r12): a free-form
    // append/rewrite note equal to a future tag must never make the
    // replay check discard a real batch — the old lookup matched ANY
    // prior note, silent data loss. A store whose tagged versions predate
    // the field replays those old batches once (duplicate version, rows
    // intact) — the recoverable direction.
    require(tag.nonEmpty, "VersionedStore.appendOnce: empty tag — the tag " +
      "is the batch's idempotence key and must name it uniquely")
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.appendOnce") {
      versions(spark, dir).find(_.tag.contains(tag)) match {
        case Some(m) =>
          OpLog.info("store.replay_noop", s"VersionedStore.appendOnce: tag " +
            s"'$tag' already committed as version ${m.version} at $dir — " +
            "replayed batch, no-op")
          m.version
        case None => appendImpl(spark, dir, batches, note = tag, tag = Some(tag))
      }
    }
  }

  /** Rewrite whole tables — compaction, retention deletes, re-sorting —
    * as a SINGLE commit. `f` receives the current content of every table
    * and returns replacements for any subset; untouched tables carry
    * their segment lists forward. Readers pinned at older versions are
    * unaffected; the superseded segments stay on disk until [[vacuum]]. */
  def rewrite(spark: SparkSession, dir: String,
              note: String = "rewrite")
             (f: Map[String, DataFrame] => Map[String, DataFrame]): Long =
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.rewrite") {
      val cur = snapshot(spark, dir)
      val current = cur.manifest.tables.keys.map(n => n -> cur.table(n)).toMap
      val replaced = f(current)
      val unknown = replaced.keySet -- cur.manifest.tables.keySet
      require(unknown.isEmpty,
        s"VersionedStore.rewrite: returned tables that don't exist: " +
          s"${unknown.mkString(", ")} — create new tables via append")
      // an empty rewrite result is almost always a bug (a predicate that
      // dropped everything); a deployment that truly retires a table's
      // content should drop the table, which this store does not model
      val written = writeSegments(spark, dir, replaced)
      requireNonEmpty(spark, dir, "VersionedStore.rewrite", replaced.keys, written)
      val tables = cur.manifest.tables.map { case (n, segs) =>
        n -> written.get(n).map(Seq(_)).getOrElse(segs)
      }
      commit(spark, dir, Manifest(cur.version + 1, cur.version, note, tables))
    }

  /** Rows of `table` in segments `to` references that `from` does not —
    * the incremental-processing feed ("everything committed since my
    * checkpoint version"), batch-sized under append-only usage. After a
    * [[rewrite]] the rewritten segment is "added", so the diff is the
    * whole table — conservative and correct: a rewrite may have changed
    * anything, so an incremental consumer must reprocess. */
  def diff(spark: SparkSession, dir: String, table: String,
           from: Long, to: Long): DataFrame = {
    require(from <= to, s"VersionedStore.diff: from=$from > to=$to")
    val older = readManifest(spark, dir, from).tables
      .getOrElse(table, Seq.empty).map(_.name).toSet
    val newer = readManifest(spark, dir, to).tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"VersionedStore.diff: no table '$table' in version $to at $dir"))
    val added = newer.filterNot(s => older.contains(s.name))
    if (added.isEmpty)
      snapshot(spark, dir, Some(to)).table(table).limit(0)
    else spark.read.parquet(added.map(s => s"$dir/_segments/${s.name}"): _*)
  }

  /** Reclaim space: keep the newest `keepLast` manifests, delete the
    * older ones, and delete every segment directory no kept manifest
    * references — including orphans from writers that crashed before
    * their commit. Runs under the write lease, which is exactly what
    * makes the orphan sweep safe: the families are single-writer, so no
    * live writer can be mid-append (its not-yet-committed segment would
    * look like an orphan) while the lease is held here. Time travel to a
    * vacuumed version fails loudly with the remaining range. Returns
    * (segments deleted, manifests deleted). */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 2): (Int, Int) = {
    require(keepLast >= 1, "VersionedStore.vacuum: keepLast must be >= 1")
    IndexFiles.withWriteLease(spark, dir, "VersionedStore.vacuum") {
      val f = fs(spark, dir)
      val all = versionNumbers(spark, dir)
      require(all.nonEmpty, s"VersionedStore.vacuum: no versions at $dir")
      val (drop, keep) = all.splitAt(math.max(0, all.size - keepLast))
      val referenced = keep.map(readManifest(spark, dir, _))
        .flatMap(_.tables.values.flatten.map(_.name)).toSet
      // dropped MANIFESTS delete first: once they are gone, a crash at any
      // later point leaves only unreferenced segments (harmless, swept by
      // the next vacuum). The reverse order has a window where a still-
      // visible dropped manifest points at deleted segments — a time-travel
      // pin would then die mid-scan on a vanished parquet path instead of
      // the designed loud "vacuumed" error. Kept manifests are safe under
      // either order (the referenced set is computed from them).
      drop.foreach(v =>
        f.delete(new Path(manifestsPath(dir), manifestName(v)), false))
      val segsPath = new Path(s"$dir/_segments")
      val deadSegs =
        if (!f.exists(segsPath)) Seq.empty
        else f.listStatus(segsPath).toSeq.map(_.getPath)
          .filterNot(p => referenced.contains(p.getName))
      deadSegs.foreach(p => f.delete(p, true))
      // in-flight dot-tmps from crashed commits are dead by the same
      // lease argument as orphan segments
      val deadTmps = f.listStatus(manifestsPath(dir)).toSeq
        .map(_.getPath).filter(_.getName.startsWith(".tmp-"))
      deadTmps.foreach(p => f.delete(p, false))
      (deadSegs.size, drop.size)
    }
  }
}
