package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Consistency checker — "fsck" — for the persisted-state families: the
  * operational capstone of the crash/replay machinery. The markers, write
  * leases, meta tags, and sidecars make corruption DETECTABLE at the
  * moment a writer misbehaves; this makes the same invariants CHECKABLE
  * after the fact, so a deployment can audit an index it inherited, or
  * one whose write history it doubts, instead of retroactively trusting
  * the write path's discipline. The reference gets the equivalent
  * guarantee by serializing every DDL mutation through one master
  * (`/root/reference/tajo-core/src/main/java/org/apache/tajo/master/exec/DDLExecutor.java`);
  * here state is files on a shared filesystem, so the auditor is a query.
  *
  * Every check is ONE bounded aggregation or anti-join over INDEX-sized
  * tables — corpus text is never read — and contributes one
  * (family, check, violations) row; the whole report is a few dozen rows
  * regardless of corpus size, so running it before serving a freshly
  * compacted 100 TB index costs an index scan, not a corpus scan.
  *
  * What `violations` means per check (0 = invariant holds):
  *   - bm25 — the BM25 index is a [[VersionedStore]] (one commit per
  *     build, append or compaction, so its two tables cannot disagree):
  *     its checks are exactly the versioned ones below, reported under
  *     the bm25 family name.
  *   - agg_state/orphan_tag_rows — delta rows whose tag was never
  *     committed to `_tags.json` (a torn fold awaiting retry or
  *     compaction adoption).
  *   - agg_state/duplicate_partials — surplus (group, tag) rows (a torn
  *     retry; bit-identical by DECIMAL determinism, collapsed at read,
  *     reclaimed by compaction).
  *   - agg_state/retracted_rows_present — rows whose tag is recorded
  *     retracted in `_retracted.json` (a retraction that crashed between
  *     intent and swap; finished by its retry or the next compaction).
  *   - minhash/sig_band_id_mismatch — ids present in exactly one of the
  *     sigs/bands tables (a torn append: the two tables must cover the
  *     same documents or band candidates lose their verify rows — and
  *     vice versa).
  *   - minhash/wrong_band_count — ids whose band-row count differs from
  *     the stored `bands` build param (a partial or duplicated band
  *     append; duplicates are otherwise read-tolerated, but a SHORT
  *     count silently loses candidate recall).
  *   - cluster/keeper_above_doc — rows whose keeper exceeds their doc id
  *     (keepers are cluster MINIMA, so keeper <= doc_id always).
  *   - cluster/dangling_keepers — rows referencing a keeper with no own
  *     row (a torn partitioned-fold commit; `repairClusterStatePartitioned`
  *     restores these).
  *   - cluster/keeper_not_fixpoint — rows whose keeper's own row points
  *     at a third label (a torn relabel; same repair). Counted against
  *     DISTINCT keeper rows, so identical duplicate rows cannot fan the
  *     count out; a doc with CONFLICTING keeper rows is its own violation
  *     (next check).
  *   - cluster/duplicate_doc_rows — surplus rows per doc id (a
  *     crash-retried fold append; the keeper map must be a FUNCTION of
  *     doc_id — conflicting duplicates make every downstream relabel
  *     nondeterministic).
  *   - ivf_pq/wrong_subspace_count — vector ids with a code-row count
  *     other than the stored geometry's m (a partial code write, or an
  *     id re-encoded under a different cell — the state compaction can
  *     NOT repair; drop the id and re-append).
  *   - ivf_pq/cell_out_of_range — code rows referencing a cell absent
  *     from the centroid table (mixed-build state).
  *   - ivf_pq/duplicate_codes — surplus (id, cell, subspace) rows (a
  *     retried append; doubles summed ADC distances). Keyed exactly like
  *     `compactIvfPqResidualIndex`'s dedup, so this check and its named
  *     repair agree: what fsck flags here, compaction fixes.
  *
  * One real corruption often trips SEVERAL checks (a half-written code
  * batch is both wrong_subspace_count and possibly cell_out_of_range) —
  * that is signal, not double-counting: each row states which invariant
  * is broken. Repairs are the families' own maintenance calls (compact /
  * repair / re-run the interrupted operation), named above per check. */
object IndexFsck {

  private def checkRow(family: String, check: String,
                       violations: DataFrame): DataFrame =
    violations.agg(count(lit(1)).cast("bigint").as("violations"))
      .select(lit(family).as("family"), lit(check).as("check"),
        col("violations"))

  // surplus-row count for a duplicate-key invariant: group on the key,
  // sum the rows beyond one — no per-group array materialization, so a
  // pathologically retried append (thousands of duplicates per key, the
  // very state fsck audits) costs one aggregate, not an explode
  private def surplusRow(family: String, check: String, df: DataFrame,
                         keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") - 1), lit(0L)).cast("bigint").as("violations"))
      .select(lit(family).as("family"), lit(check).as("check"),
        col("violations"))

  /** The two MinHash-index invariants; the expected band count comes
    * from the stored `_meta.json` (a build property, never a parameter).
    * Ids are compared as DISTINCT sets, so legal read-tolerated
    * duplicates (a retried append) don't enter the mismatch count. */
  def checkMinhash(spark: SparkSession, dir: String,
                   idCol: String = "doc_id"): DataFrame = {
    val idx = Dedup.MinhashIndex.read(spark, dir)
    val bands = idx.meta.map(_.bands).getOrElse(
      throw new IllegalArgumentException(
        s"IndexFsck.checkMinhash: no _meta.json at $dir — not a tagged " +
          "MinHash index directory"))
    val sigIds = idx.sigs.select(col(idCol)).distinct()
    val bandIds = idx.bands.select(col(idCol)).distinct()
    val mismatch = sigIds.join(bandIds, Seq(idCol), "left_anti")
      .unionAll(bandIds.join(sigIds, Seq(idCol), "left_anti"))
    val wrongCount = idx.bands.groupBy(idCol)
      .agg(count(lit(1)).as("n")).filter(col("n") =!= bands)
    checkRow("minhash", "sig_band_id_mismatch", mismatch)
      .unionAll(checkRow("minhash", "wrong_band_count", wrongCount))
  }

  /** The BM25 index's invariants: [[checkVersionedStore]] over its
    * store, under the bm25 family name. */
  def checkBm25(spark: SparkSession, dir: String): DataFrame =
    checkVersionedStore(spark, dir).withColumn("family", lit("bm25"))

  /** The three aggregate-state invariants; group columns come from the
    * stored `_meta.json`, the committed/retracted tag sets from their
    * sidecars. */
  def checkAggState(spark: SparkSession, dir: String): DataFrame = {
    // refuse the same mixed-incarnation state every AggState entry point
    // refuses — an auditor that reads the NEW incarnation's fresh
    // sidecars against the OLD incarnation's state table would report
    // every old fold as orphaned, a silent misdiagnosis of the one state
    // the marker exists to flag — and recover an interrupted compaction
    // swap instead of throwing PATH_NOT_FOUND at the crashed state it
    // exists to audit
    AggState.requireNoTornRebuild(spark, dir, "IndexFsck.checkAggState")
    IndexFiles.recoverInterruptedSwap(spark, dir, "state",
      "IndexFsck.checkAggState")
    val meta = AggState.AggStateMeta.read(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"IndexFsck.checkAggState: no _meta.json at $dir — not an " +
          "aggregate-state directory (or a torn first build)"))
    import spark.implicits._
    // the tag sidecars grow one entry per fold FOREVER (the documented
    // compaction-proof replay guard), so they join as tables — inlining
    // them as isin() literals would hand the planner an unbounded
    // expression tree on a long-lived state
    val committed = AggState.committedTags(spark, dir).toDF("__batch")
    val retracted = AggState.retractedTags(spark, dir).toDF("__batch")
    val state = spark.read.parquet(s"$dir/state")
    val orphan = state.filter(!col("__batch").startsWith("__"))
      .join(committed, Seq("__batch"), "left_anti")
    val retr = state.join(retracted, Seq("__batch"), "left_semi")
    checkRow("agg_state", "orphan_tag_rows", orphan)
      .unionAll(surplusRow("agg_state", "duplicate_partials",
        state, meta.groupCols :+ "__batch"))
      .unionAll(checkRow("agg_state", "retracted_rows_present", retr))
  }

  /** The three keeper-map invariants, generic over ANY (doc_id, keeper)
    * assignment (plain table, partitioned layout, or an in-memory frame) —
    * the invariants are [[Dedup.duplicateClusters]]'s postconditions, not
    * a storage property. */
  def checkClusterAssignment(stored: DataFrame): DataFrame = {
    val above = stored.filter(col("keeper") > col("doc_id"))
    // DISTINCT keeper rows: identical duplicate rows (the crash-retried
    // append shape, flagged by duplicate_doc_rows below) must not fan the
    // dangling/fixpoint joins out and over-count those checks
    val keeperRows = stored
      .select(col("doc_id").as("__kd"), col("keeper").as("__kk")).distinct()
    val joined = stored.join(keeperRows, stored("keeper") === col("__kd"), "left")
    val dangling = joined
      .filter(col("__kk").isNull && stored("keeper") =!= stored("doc_id"))
    val notFix = joined
      .filter(col("__kk").isNotNull && col("__kk") =!= stored("keeper"))
    checkRow("cluster", "keeper_above_doc", above)
      .unionAll(checkRow("cluster", "dangling_keepers", dangling))
      .unionAll(checkRow("cluster", "keeper_not_fixpoint", notFix))
      .unionAll(surplusRow("cluster", "duplicate_doc_rows",
        stored, Seq("doc_id")))
  }

  /** The five versioned-store invariants — the FIFTH family joins the
    * auditor ([[VersionedStore]]): a deployment audits an inherited store
    * the same way it audits an inherited index.
    *
    *   - versioned/missing_segment_dirs — segments referenced by ANY
    *     un-vacuumed manifest whose directory is gone (external deletion
    *     or a partial restore — NEVER a crash shape: vacuum removes
    *     dropped manifests before their segments, so a mid-vacuum crash
    *     leaves extra files, not dangling references). Reads of the
    *     affected versions fail mid-scan; vacuum past them or restore.
    *   - versioned/orphan_segments — uncommitted writes: segment dirs no
    *     manifest references and in-flight `.tmp-` manifests (a writer
    *     that crashed before its commit). Invisible to every read; the
    *     next vacuum reclaims them.
    *   - versioned/broken_parent_chain — manifests whose parent is not
    *     version−1 (versions always increment by one, so this only
    *     happens to a hand-edited or foreign file).
    *   - versioned/rows_stat_mismatch — latest-manifest segments whose
    *     stored row count disagrees with the manifest's stamp.
    *   - versioned/stat_bounds_mismatch — latest-manifest segments where
    *     a recomputed column bound disagrees with the stamp (stats are
    *     computed from the stored bytes at write time, so a mismatch
    *     means external mutation of an "immutable" segment — and WRONG
    *     stats make range pruning silently drop rows, which is why this
    *     check exists). Repair: [[VersionedStore.restampStats]] commits
    *     a new version with stats recomputed from the bytes.
    *
    * Cost: the three structural checks are listing-sized; the two stat
    * checks re-scan the LATEST version's segments (count via row-group
    * metadata, bounds via a columnar min/max pass) — one store scan,
    * the price of distrusting the stamps. */
  def checkVersionedStore(spark: SparkSession, dir: String): DataFrame =
    // read-only but consistency-critical, so it runs under the write lease
    // (ADVICE r12): a concurrent writer's not-yet-committed segment would
    // read as an orphan (a false positive an operator might then "fix" by
    // vacuuming), and a rewrite/vacuum landing between the manifest
    // listing and the statsOf re-scan could vanish a segment mid-audit
    IndexFiles.withWriteLease(spark, dir, "checkVersionedStore") {
    val f = IndexFiles.fs(spark, new org.apache.hadoop.fs.Path(dir))
    val manifests = VersionedStore.versions(spark, dir)
    require(manifests.nonEmpty,
      s"IndexFsck.checkVersionedStore: no versions at $dir — not a " +
        "versioned store")
    val referenced = manifests
      .flatMap(_.tables.values.flatten.map(_.name)).toSet
    def segDir(s: String) = new org.apache.hadoop.fs.Path(s"$dir/_segments/$s")
    val missing = referenced.count(s => !f.exists(segDir(s)))
    val segsPath = new org.apache.hadoop.fs.Path(s"$dir/_segments")
    val onDisk =
      if (!f.exists(segsPath)) Seq.empty[String]
      else f.listStatus(segsPath).toSeq.map(_.getPath.getName)
    val tmpManifests = f.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_manifests"))
      .count(_.getPath.getName.startsWith(".tmp-"))
    val orphans = onDisk.count(!referenced.contains(_)) + tmpManifests
    val chain = manifests.count(m => m.parent != m.version - 1)
    val latest = manifests.last
    var rowsBad = 0L
    var boundsBad = 0L
    latest.tables.values.flatten.foreach { s =>
      if (f.exists(segDir(s.name))) {
        // recompute through the ONE stats producer (VersionedStore.statsOf
        // — the same code the write stamped with), so the auditor and the
        // writer cannot drift onto different column selections or casts.
        // A segment the producer can no longer read (externally emptied,
        // or a stamped column dropped by external rewrite) counts against
        // BOTH stat checks rather than crashing the audit — an
        // unverifiable stamp is a mismatched stamp.
        val recomputed = try Some(VersionedStore.statsOf(spark, dir, s.name))
        catch { case scala.util.control.NonFatal(e) =>
          OpLog.warn("fsck.segment_unreadable", s"checkVersionedStore: segment " +
            s"${s.name} unreadable for stat recomputation (${e.getMessage})")
          None
        }
        recomputed match {
          case None =>
            rowsBad += 1
            boundsBad += 1
          case Some(r) =>
            if (s.rows != VersionedStore.UnknownRows && r.rows != s.rows)
              rowsBad += 1
            val statCols = (s.min.keySet ++ s.max.keySet).toSeq.sorted
            val boundsOk = statCols.forall(c =>
              r.min.get(c) == s.min.get(c) && r.max.get(c) == s.max.get(c))
            if (!boundsOk) boundsBad += 1
        }
      }
    }
    import spark.implicits._
    Seq(
      ("versioned", "broken_parent_chain", chain.toLong),
      ("versioned", "missing_segment_dirs", missing.toLong),
      ("versioned", "orphan_segments", orphans.toLong),
      ("versioned", "rows_stat_mismatch", rowsBad),
      ("versioned", "stat_bounds_mismatch", boundsBad))
      .toDF("family", "check", "violations")
    }

  /** The three residual-IVF-PQ invariants; m comes from the stored
    * `_meta.json` (geometry is a build property, never a parameter). */
  def checkIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val m = Similarity.IvfPqMeta.read(spark, dir).map(_.m).getOrElse(
      throw new IllegalArgumentException(
        s"IndexFsck.checkIvfPq: no _meta.json at $dir — not a tagged " +
          "residual IVF-PQ index directory"))
    val idx = Similarity.IvfPqResidualIndex.read(spark, dir)
    val wrongCount = idx.codes.groupBy("__cid")
      .agg(count(lit(1)).as("n")).filter(col("n") =!= m)
    val badCell = idx.codes.join(
      idx.cent.select(col("cid").as("cell")), Seq("cell"), "left_anti")
    checkRow("ivf_pq", "wrong_subspace_count", wrongCount)
      .unionAll(checkRow("ivf_pq", "cell_out_of_range", badCell))
      // keyed (__cid, cell, s) — exactly compactIvfPqResidualIndex's
      // dedup key, so the flagged rows are the ones the named repair
      // collapses (a re-encoded id under a DIFFERENT cell is not a
      // duplicate; it shows as wrong_subspace_count instead)
      .unionAll(surplusRow("ivf_pq", "duplicate_codes",
        idx.codes, Seq("__cid", "cell", "s")))
  }
}
