package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Repair-apply mode for [[IndexFsck]] — the checker DETECTS broken
  * invariants; this applies each check's named repair and reports what it
  * did, so an operator inheriting a doubted index runs fsck → repair →
  * fsck-clean instead of hand-assembling the right sequence of family
  * maintenance calls. The reference's equivalent is re-running DDL through
  * the one master that serializes catalog mutations
  * (`/root/reference/tajo-core/src/main/java/org/apache/tajo/master/exec/DDLExecutor.java`);
  * here the "catalog" is parquet tables on a shared filesystem, so the
  * repair is a query plus the families' own staged-swap maintenance.
  *
  * Two repair classes, stated per check:
  *   - HEALABLE from the stored state alone — duplicate rows collapse
  *     (the crash-retried-append shape), uncommitted store writes (BM25,
  *     aggregate state, IVF-PQ) vacuum away, torn cluster relabels
  *     re-solve. These end repaired-and-complete.
  *   - DROP-AND-REAPPEND — a MinHash document whose index rows are
  *     PARTIAL (a torn append: sigs without bands). The missing half exists only
  *     in the source corpus, which this module never reads (repairs are
  *     index-sized at any corpus scale), so the id's surviving rows are
  *     dropped to restore consistency and the id is REPORTED via the
  *     `*InconsistentIds` companion — re-append exactly those documents
  *     through the family's own append entry point to restore membership.
  *
  * Every repair runs under the family's write lease (the compaction entry
  * points, [[IndexFiles.stagedSwap]] and the store's vacuum acquire it),
  * so a repair racing a live writer fails loudly instead of
  * interleaving. Reports are tiny
  * (family, action, n) tables; the BEFORE-counts are collected (a few
  * rows) prior to the swap, because a lazily-evaluated check DataFrame
  * re-read after the swap would count the post-repair state.
  *
  * What repair does NOT do: re-derive data from the corpus (re-append is
  * the caller's move, with corpus access), retry a fold or append that
  * crashed before its commit (its debris is vacuumed; the retry is the
  * caller's), or recover a torn MinHash rebuild (`_rebuild_intent`
  * survivors are mixed-incarnation states only the original rebuild can
  * finish — every entry point here refuses them, same as the family's own
  * reads). A store family has no torn rebuild: its build is one commit. */
object IndexRepair {

  private def report(spark: SparkSession,
                     rows: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("family", "action", "n")
  }

  private def cnt(df: DataFrame): Long = df.count()

  /** Surplus rows beyond one per key — the same arithmetic as
    * [[IndexFsck]]'s duplicate checks, collected to a scalar. */
  private def surplus(df: DataFrame, keys: Seq[String]): Long =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") - 1), lit(0L)).as("s"))
      .collect().head.getLong(0)

  // -------------------------------------- BM25, agg state and IVF-PQ

  /** A store family's repair: its store can only hold the crash debris of
    * an uncommitted write (orphan segments, `.tmp-` manifests — fsck's
    * orphan_segments), so the repair is [[VersionedStore.vacuum]] at its
    * default retention. Returns the (family, action, n) report of what it
    * deleted: `vacuumed_manifests` counts the `.tmp-` manifests with the
    * dropped versions, so the two rows sum to the orphans fsck found
    * (plus any versions past the retention). */
  private def vacuumStore(spark: SparkSession, family: String, dir: String): DataFrame = {
    val (segs, manifests) = VersionedStore.vacuum(spark, dir)
    report(spark, Seq(
      (family, "vacuumed_segments", segs.toLong),
      (family, "vacuumed_manifests", manifests.toLong)))
  }

  /** Repair a persisted BM25 index ([[IndexFsck.checkBm25]]). */
  def repairBm25Index(spark: SparkSession, dir: String): DataFrame =
    vacuumStore(spark, "bm25", dir)

  /** Repair a materialized aggregate state ([[IndexFsck.checkAggState]]).
    * A fold that crashed before its commit is not counted, so its retry
    * after the repair folds it. */
  def repairAggState(spark: SparkSession, dir: String): DataFrame =
    vacuumStore(spark, "agg_state", dir)

  /** Repair a persisted residual IVF-PQ index ([[IndexFsck.checkIvfPq]]).
    * An append that crashed before its commit added no codes, so its
    * retry after the repair appends them. */
  def repairIvfPqIndex(spark: SparkSession, dir: String): DataFrame =
    vacuumStore(spark, "ivf_pq", dir)

  // -------------------------------------------------------------- MinHash

  /** Ids whose stored MinHash rows are PARTIAL — present in exactly one of
    * sigs/bands (a torn append), or with a band set that is not exactly
    * one row per band 0..bands-1 after collapsing retried duplicates
    * (dedup key (id, band, band_key), the compaction's own) — strictly
    * containing [[IndexFsck.checkMinhash]]'s flagged set. These cannot be
    * healed from the index (the signature pipeline needs the document
    * text): drop via [[repairMinhashIndex]] and re-append exactly these
    * ids through [[Dedup.appendMinhashIndex]]. */
  def minhashInconsistentIds(spark: SparkSession, dir: String,
                             idCol: String = "doc_id"): DataFrame = {
    val idx = Dedup.MinhashIndex.read(spark, dir)
    val bands = idx.meta.map(_.bands).getOrElse(
      throw new IllegalArgumentException(
        s"minhashInconsistentIds: no _meta.json at $dir — not a tagged " +
          "MinHash index directory"))
    val sigIds = idx.sigs.select(col(idCol)).distinct()
    val bandIds = idx.bands.select(col(idCol)).distinct()
    val mismatch = sigIds.join(bandIds, Seq(idCol), "left_anti")
      .unionAll(bandIds.join(sigIds, Seq(idCol), "left_anti"))
    val badCount = idx.bands.dropDuplicates(idCol, "band", "band_key")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n"), countDistinct(col("band")).as("nd"))
      .filter(col("n") =!= bands || col("nd") =!= bands)
      .select(col(idCol))
    mismatch.unionAll(badCount).distinct()
  }

  /** Repair a persisted MinHash index: collapse retried-duplicate band
    * rows and DROP the partial ids (returned by
    * [[minhashInconsistentIds]]; report row `dropped_ids_for_reappend`) —
    * one [[Dedup.compactMinhashIndex]] with the computed drop set. A
    * pre-repair duplicate band row is read-tolerated but a SHORT band set
    * silently loses candidate recall, which no query-side guard can see;
    * after repair + re-append the index is fsck-clean AND complete. */
  def repairMinhashIndex(spark: SparkSession, dir: String,
                         idCol: String = "doc_id"): DataFrame =
    IndexFiles.withWriteLease(spark, dir, "repairMinhashIndex") {
      val bad = minhashInconsistentIds(spark, dir, idCol).localCheckpoint()
      try {
        val nBad = cnt(bad)
        // surplus among KEPT ids only — a duplicate row of an id the repair
        // drops anyway belongs to the drop action, not the collapse action
        // (disjoint report: each removed row is counted under one action)
        val dupBands = surplus(Dedup.MinhashIndex.read(spark, dir).bands
          .join(bad, Seq(idCol), "left_anti"),
          Seq(idCol, "band", "band_key"))
        Dedup.compactMinhashIndex(spark, dir,
          dropIds = if (nBad == 0) None else Some(bad), idCol = idCol)
        report(spark, Seq(
          ("minhash", "dropped_ids_for_reappend", nBad),
          ("minhash", "collapsed_duplicate_band_rows", dupBands)))
      } finally Checkpoints.free(bad) // compaction committed
    }

  // ----------------------------------------------------------- cluster map

  /** Repair ANY (doc_id, keeper) cluster assignment by re-solving the
    * connected components of the rows THEMSELVES (each row is an edge of
    * the cluster graph it claims): the output is the canonical min-label
    * map over the same connectivity, so every [[IndexFsck.checkClusterAssignment]]
    * invariant holds by construction — keeper-above rows relabel to the
    * true minimum, dangling keepers gain their own row, torn relabels
    * path-compress, conflicting duplicates collapse to one row per doc.
    * Connectivity is PRESERVED, never invented: two docs land in one
    * cluster post-repair iff the stored rows already connected them.
    * Pure-singleton rows (doc_id = keeper, no other member) round-trip
    * unchanged. Unlike the other repairs this one is corpus-free AND
    * storage-free — it maps a DataFrame; callers on the partitioned store
    * use [[Dedup.repairClusterStatePartitioned]], which repairs in place
    * and only rewrites touched buckets. */
  def repairClusterAssignment(stored: DataFrame): DataFrame = {
    val cc = Dedup.duplicateClusters(
      stored.select(col("doc_id").as("d1"), col("keeper").as("d2")))
    // duplicateClusters drops self-loop edges, so a pure singleton row
    // (its id appears in no real edge) would vanish — restore as (id, id)
    val singletons = stored.select(col("doc_id")).distinct()
      .join(cc.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("keeper"))
    cc.unionAll(singletons)
  }

}
