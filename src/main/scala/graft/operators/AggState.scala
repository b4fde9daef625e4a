package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialized aggregate state with incremental maintenance — the OLAP
  * half of the persisted-index family: instead of rescanning a 100 TB fact
  * table for every dashboard refresh, the table's per-group aggregate
  * partials (count / exact DECIMAL sum / min / max — the classic
  * self-mergeable measure algebra) persist ONCE, every ingest batch folds
  * its own batch-sized partial rows in, and reads merge the deltas. The
  * reference materializes query results into tables for exactly this
  * reuse (CTAS + INSERT INTO in
  * `/root/reference/tajo-core/src/main/java/org/apache/tajo/engine/query/`);
  * this is that idea made INCREMENTAL, LSM-style, in Spark.
  *
  * Stored layout under `dir/`:
  *   - `state` — one row per (group, __batch): the group columns, `__batch`
  *     (which fold produced the row), `cnt`, and per value column
  *     `sum_<v>` (DECIMAL(38,6) — exact, order-independent, so recomputing
  *     a batch's partials yields BIT-IDENTICAL rows every time; the
  *     foundation of the replay story below), `min_<v>`, `max_<v>`.
  *   - `_meta.json` — group/value column lists; every fold and read
  *     validates against it and fails loudly on mismatch (folding under a
  *     different grouping would silently corrupt every merged result).
  *   - `_tags.json` — the append-only list of every batch tag ever folded.
  *     Survives compaction, which is exactly its job: see the replay
  *     contract.
  *
  * EXACTNESS UNDER AT-LEAST-ONCE DELIVERY — the design's core claim, each
  * leg spec-pinned:
  *   1. A fold writes its partial rows FIRST, then appends its tag to
  *      `_tags.json`. A replay of a COMMITTED fold (tag present) is a
  *      no-op before any write.
  *   2. A retry of the torn state (rows landed, tag did not) re-appends
  *      the same rows — and because partials are deterministic (DECIMAL
  *      sums, min/max, count), the duplicates are bit-identical, and the
  *      read-side dropDuplicates on (group, __batch) collapses them
  *      EXACTLY.
  *   3. Compaction merges all delta rows into one row per group under the
  *      reserved `__compacted` tag — after which dropDuplicates could no
  *      longer catch a replay of a pre-compaction fold (its tag rows are
  *      gone). That replay is instead blocked by leg 1: `_tags.json` is
  *      never pruned, so the tag is still present — and compaction first
  *      ADOPTS any orphan tags it finds (rows landed, tag never
  *      committed) so even a torn fold merged away cannot double-count on
  *      a late retry. This is why user tags must not start with `__`.
  *      The tags file grows one short string per fold forever — at one
  *      fold a minute that is ~5 MB/decade, the deliberate price of a
  *      compaction-proof replay guard.
  *
  * Scale: a fold is one batch-sized partial aggregation + one parquet
  * append — the fact table is NEVER rescanned. A read merges
  * (groups x folds-since-compaction) rows; compaction (index-sized staged
  * swap, [[IndexFiles]] crash recovery at read, LSM non-concurrency
  * contract) bounds that factor back to 1. The measure algebra is closed
  * under merge, so reads at ANY moment are exact over every committed
  * fold. avg derives as sum/cnt at read; count-distinct is NOT in the
  * algebra (not mergeable exactly — use the HLL sketch operators for an
  * approximate mergeable spelling). A DECIMAL(38,6) sum holds
  * magnitudes to 10^32 — far past any physical measure at 100 TB — but
  * note Spark's default non-ANSI behavior on a genuine overflow is a
  * NULL sum, not an error; enable `spark.sql.ansi.enabled` in
  * deployments whose measures could plausibly approach the bound. */
object AggState {

  /** The reserved tag compaction rewrites merged rows under. */
  val CompactedTag = "__compacted"

  // bracket marker for writeAggState's rebuild-in-place: the build writes
  // five artifacts (meta, three sidecars, the state table) that are only
  // consistent as a SET — a crash midway would otherwise leave the OLD
  // incarnation's state table served under the NEW incarnation's fresh
  // sidecars, a silent mixed-incarnation read no single-file recovery can
  // detect. The marker turns that window into a loud error at every entry
  // point until writeAggState is re-run.
  private val RebuildMarker = "_rebuild_intent"

  // private[operators]: the consistency checker ([[IndexFsck]]) must
  // refuse the same mixed-incarnation state every entry point here does
  private[operators] def requireNoTornRebuild(spark: SparkSession, dir: String,
                                              what: String): Unit =
    require(!IndexFiles.markerExists(spark, dir, RebuildMarker),
      s"$what: torn writeAggState rebuild at $dir (its $RebuildMarker marker " +
        "survived a crash) — the state table and sidecars may be from " +
        "different incarnations; re-run writeAggState, or build into a " +
        "fresh directory")

  final case class AggStateMeta(groupCols: Seq[String], valueCols: Seq[String])

  object AggStateMeta {
    private def arr(xs: Seq[String]) =
      xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    def write(spark: SparkSession, dir: String, m: AggStateMeta): Unit =
      IndexFiles.writeFileSwap(spark, dir, "_meta.json",
        s"""{"groupCols":${arr(m.groupCols)},"valueCols":${arr(m.valueCols)}}"""
          .getBytes("UTF-8"))
    def read(spark: SparkSession, dir: String): Option[AggStateMeta] =
      IndexFiles.readFileWithRecovery(spark, dir, "_meta.json").map { bytes =>
        val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
        def strs(name: String): Seq[String] = (j \ name) match {
          case org.json4s.JArray(vs) => vs.map {
            case org.json4s.JString(s) => s
            case other => throw new IllegalArgumentException(
              s"malformed AggState meta at $dir/_meta.json: $name entry $other")
          }
          case other => throw new IllegalArgumentException(
            s"malformed AggState meta at $dir/_meta.json: field $name = $other")
        }
        AggStateMeta(strs("groupCols"), strs("valueCols"))
      }
  }

  private def requireMeta(spark: SparkSession, dir: String,
                          groupCols: Seq[String], valueCols: Seq[String]): Unit =
    AggStateMeta.read(spark, dir).foreach { m =>
      val passed = AggStateMeta(groupCols, valueCols)
      require(m == passed,
        s"AggState column mismatch: stored $m, passed $passed — folding or " +
          "reading under different group/value columns silently corrupts " +
          "every merged result; use the stored values")
    }

  /** The folded-tags sidecar: one JSON array, append-only, compaction-proof.
    * A silently-dropped committed tag would let its fold replay past the
    * contains() check, so the shared parser throws on any malformed entry. */
  private def readTags(spark: SparkSession, dir: String): Seq[String] =
    readStringList(spark, dir, "_tags.json")

  private def writeTags(spark: SparkSession, dir: String,
                        tags: Seq[String]): Unit =
    writeStringList(spark, dir, "_tags.json", tags)

  // read-only sidecar views for the consistency checker ([[IndexFsck]])
  private[operators] def committedTags(spark: SparkSession,
                                       dir: String): Seq[String] =
    readTags(spark, dir)

  private[operators] def retractedTags(spark: SparkSession,
                                       dir: String): Seq[String] =
    readStringList(spark, dir, "_retracted.json")

  // tags and column names are embedded in hand-built JSON sidecars:
  // restrict them to identifier characters so the files can never be
  // rendered malformed (a broken _tags.json bricks every later fold)
  private def requireJsonSafe(what: String, s: String): Unit =
    require(s.nonEmpty && s.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"$what '$s' must be non-empty and use only [A-Za-z0-9_.-]")

  /** Deterministic per-batch partials: the one aggregation spelling shared
    * by the base build, every fold, and the read-side merge's oracle —
    * DECIMAL sums so a recomputed batch yields bit-identical rows. */
  private[graft] def partials(df: DataFrame, groupCols: Seq[String],
                              valueCols: Seq[String], tag: String): DataFrame = {
    val measures = count(lit(1)).as("cnt") +: valueCols.flatMap(v => Seq(
      sum(col(v).cast("decimal(38,6)")).cast("decimal(38,6)").as(s"sum_$v"),
      min(col(v)).as(s"min_$v"),
      max(col(v)).as(s"max_$v")))
    df.groupBy(groupCols.map(col): _*)
      .agg(measures.head, measures.tail: _*)
      .withColumn("__batch", lit(tag))
  }

  /** Build AND persist the aggregate state from the base table — one scan,
    * one group-sized write, the `__base` tag. Stamps `_meta.json` FIRST
    * (same crash discipline as the BM25 index: a torn build must fail
    * loudly on the missing state path, not read as a validation-bypassing
    * legacy directory).
    *
    * The whole build — meta, the three sidecars, the state overwrite — is
    * bracketed by a `_rebuild_intent` marker: a rebuild-in-place that
    * crashes after resetting the sidecars but before the state overwrite
    * would otherwise serve the PREVIOUS incarnation's folds under fresh
    * sidecars with no loud signal (the first-build path fails on the
    * missing state table; the rebuild path has no missing file to trip
    * on). Every other entry point refuses a directory whose marker
    * survived; re-running writeAggState clears it. */
  def writeAggState(df: DataFrame, dir: String, groupCols: Seq[String],
                    valueCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty && valueCols.nonEmpty,
      "writeAggState: need at least one group column and one value column")
    (groupCols ++ valueCols).foreach(requireJsonSafe("writeAggState: column", _))
    val spark = df.sparkSession
    IndexFiles.withWriteLease(spark, dir, "writeAggState") {
      IndexFiles.createMarker(spark, dir, RebuildMarker)
      AggStateMeta.write(spark, dir, AggStateMeta(groupCols, valueCols))
      writeTags(spark, dir, Seq("__base"))
      // a rebuild-in-place starts a NEW incarnation: stale seal/retraction
      // sidecars from the previous one would make a fresh tag spuriously
      // throw "sealed" or turn its retraction into a vacuous no-op
      writeStringList(spark, dir, "_sealed.json", Seq.empty)
      writeStringList(spark, dir, "_retracted.json", Seq.empty)
      partials(df, groupCols, valueCols, "__base")
        .write.mode("overwrite").parquet(s"$dir/state")
      IndexFiles.deleteMarker(spark, dir, RebuildMarker)
    }
    readAggState(spark, dir, groupCols, valueCols)
  }

  /** Fold one ingest batch into the stored state: one BATCH-SIZED partial
    * aggregation appended as delta rows, then the tag commit — the fact
    * table is never rescanned. `batchTag` names the batch for the replay
    * contract (see the object scaladoc): a committed fold re-run under the
    * same tag is a no-op; a torn retry lands bit-identical duplicate rows
    * that the read collapses. Tags must be unique per logical batch, use
    * only identifier characters, and must not start with `__` (reserved).
    *
    * Fails loudly when `dir/state` does not exist (a torn build, an
    * interrupted-and-unrecovered swap already handled below, or a typo'd
    * path): a parquet append would CREATE the directory and silently
    * bootstrap a state missing the entire base. */
  def foldAggState(batch: DataFrame, dir: String, batchTag: String,
                   groupCols: Seq[String], valueCols: Seq[String]): Unit = {
    require(!batchTag.startsWith("__"),
      s"foldAggState: tag '$batchTag' uses the reserved __ prefix")
    requireJsonSafe("foldAggState: tag", batchTag)
    val spark = batch.sparkSession
    requireNoTornRebuild(spark, dir, "foldAggState")
    requireMeta(spark, dir, groupCols, valueCols)
    IndexFiles.withWriteLease(spark, dir, "foldAggState") {
      // a compaction swap that crashed between its renames left no live
      // state directory — recover it BEFORE the existence check and append,
      // or this fold's parquet append would create a fresh table containing
      // only this batch and the recovery rename could never run again
      IndexFiles.recoverInterruptedSwap(spark, dir, "state", "foldAggState")
      val statePath = new org.apache.hadoop.fs.Path(s"$dir/state")
      require(IndexFiles.fs(spark, statePath).exists(statePath),
        s"foldAggState: no state table at $dir/state — run writeAggState " +
          "first (a torn build or wrong path must not silently bootstrap " +
          "a state missing its base)")
      val tags = readTags(spark, dir)
      if (!tags.contains(batchTag)) { // committed replay = no-op
        partials(batch, groupCols, valueCols, batchTag)
          .write.mode("append").parquet(s"$dir/state")
        writeTags(spark, dir, tags :+ batchTag)
      }
    }
  }

  /** Merge the delta rows into the current exact aggregate: collapse
    * torn-retry duplicates on (group, __batch), then merge the mergeable
    * measures. `sum_<v>` is exposed as DOUBLE (the exact DECIMAL total
    * cast once at the edge — the house determinism idiom); `avg_<v>`
    * derives from it. Cost: (groups x folds-since-compaction) rows. */
  def readAggState(spark: SparkSession, dir: String, groupCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    requireNoTornRebuild(spark, dir, "readAggState")
    requireMeta(spark, dir, groupCols, valueCols)
    IndexFiles.recoverInterruptedSwap(spark, dir, "state", "readAggState")
    val measures = sum(col("cnt")).cast("bigint").as("cnt") +:
      valueCols.flatMap(v => Seq(
        sum(col(s"sum_$v")).cast("decimal(38,6)").cast("double").as(s"sum_$v"),
        min(col(s"min_$v")).as(s"min_$v"),
        max(col(s"max_$v")).as(s"max_$v")))
    IndexFiles.readParquet(spark, s"$dir/state")
      .dropDuplicates(groupCols :+ "__batch")
      .groupBy(groupCols.map(col): _*)
      .agg(measures.head, measures.tail: _*)
  }

  /** Compact the delta rows to ONE row per group under the reserved
    * `__compacted` tag — the read-side merge factor returns to 1. The
    * staged swap carries the usual [[IndexFiles]] crash recovery and LSM
    * non-concurrency contract; `_meta.json` and `_tags.json` are siblings
    * the swap never touches — the tags list in particular MUST survive,
    * it is what blocks a pre-compaction fold from replaying into a state
    * that no longer holds its rows.
    *
    * ORPHAN ADOPTION, before the swap: delta rows whose tag never
    * committed (a torn fold that was never retried) are about to be
    * merged into `__compacted`, after which neither the (group, __batch)
    * dedupe nor the tag check could stop that fold's retry from
    * double-counting. So compaction first commits those orphan tags —
    * adopting the fold as happened — and only then merges. Crash-safe in
    * that order: tags committed but swap not run leaves the rows in
    * place, counted once, with the retry now a no-op. */
  def compactAggState(spark: SparkSession, dir: String, groupCols: Seq[String],
                      valueCols: Seq[String]): DataFrame = {
    requireNoTornRebuild(spark, dir, "compactAggState")
    requireMeta(spark, dir, groupCols, valueCols)
    // ONE lease from the sidecar reads through the swap: the tag/seal/
    // retraction sidecars are read-modify-written here, and a concurrent
    // fold or retraction interleaving between those writes and the swap
    // would clobber sidecar state the crash contracts depend on
    IndexFiles.withWriteLease(spark, dir, "compactAggState") {
    IndexFiles.recoverInterruptedSwap(spark, dir, "state", "compactAggState")
    val tags = readTags(spark, dir)
    val orphans = IndexFiles.readParquet(spark, s"$dir/state")
      .select("__batch").distinct().collect().map(_.getString(0))
      .filter(t => !t.startsWith("__") && !tags.contains(t)).sorted
    val allTags = tags ++ orphans
    if (orphans.nonEmpty) {
      OpLog.warn("agg.orphan_adopted", s"compactAggState: adopting ${orphans.length} " +
        s"torn-fold tag(s) before merging: ${orphans.mkString(", ")}")
      writeTags(spark, dir, allTags)
    }
    // FINISH pending retractions before merging: a retraction that crashed
    // between its _retracted.json write and its swap left the tag's rows
    // in place — merging them into __compacted would make the retraction
    // unrecoverable while its sidecar claims it happened
    val retractedTags = readStringList(spark, dir, "_retracted.json")
    // SEAL before the swap: every non-reserved committed tag is about to
    // lose its per-batch rows to the merge, after which a retraction could
    // only silently remove nothing. Seal-then-swap is the safe crash
    // order — a crash between them refuses a retraction that would still
    // have been possible (conservative; re-run the compaction), where the
    // reverse order would let a retraction of already-merged rows report
    // success while removing nothing.
    val sealedNow = readStringList(spark, dir, "_sealed.json")
    val toSeal = allTags.filterNot(_.startsWith("__"))
      .filterNot(sealedNow.contains).sorted
    if (toSeal.nonEmpty)
      writeStringList(spark, dir, "_sealed.json", sealedNow ++ toSeal)
    val mergeMeasures = sum(col("cnt")).cast("bigint").as("cnt") +:
      valueCols.flatMap(v => Seq(
        sum(col(s"sum_$v")).cast("decimal(38,6)").as(s"sum_$v"),
        min(col(s"min_$v")).as(s"min_$v"),
        max(col(s"max_$v")).as(s"max_$v")))
    IndexFiles.stagedSwap(spark, dir, "state")(df =>
      (if (retractedTags.isEmpty) df
       else df.filter(!col("__batch").isin(retractedTags: _*)))
        .dropDuplicates(groupCols :+ "__batch")
        .groupBy(groupCols.map(col): _*)
        .agg(mergeMeasures.head, mergeMeasures.tail: _*)
        .withColumn("__batch", lit(CompactedTag)))
    }
    readAggState(spark, dir, groupCols, valueCols)
  }

  /** Retract a folded batch — the late-arriving-correction path, THE
    * classic pain of incremental aggregates. Because every fold's delta
    * rows are retained verbatim until compaction, retraction is simply
    * dropping the tag's rows (a staged swap of the state table), and it is
    * EXACT for every measure — min/max included, which no
    * negative-compensation scheme can retract (a count can go down; a max
    * cannot un-happen without the surviving candidates, which the
    * remaining per-batch rows ARE). The retracted tag STAYS in
    * `_tags.json`, so a replay of the original fold cannot resurrect the
    * data; fold the corrected batch under a NEW tag.
    *
    * Boundary, enforced loudly: compaction SEALS batches (their rows merge
    * into `__compacted` and individual retraction becomes impossible) —
    * retracting a sealed tag throws. Schedule compaction at the
    * correction horizon: batches old enough to compact are batches you
    * have promised not to retract, the same contract as any LSM seal. A
    * torn fold (rows landed, tag never committed) is adopted-then-
    * retracted, so the call works uniformly; a tag that neither was
    * committed nor has rows is a TYPO and throws (silently committing it
    * would block the real batch's future fold forever). Re-retracting is
    * an idempotent completion: the intent lands in `_retracted.json`
    * BEFORE the swap, and both the retry and the next compaction finish a
    * swap that crashed after the intent — so at every point the sidecar
    * claims only retractions that are done or will be completed by
    * whichever maintenance action runs next. Not concurrent-safe with
    * folds/compaction (the standard quiesce contract). */
  def retractAggState(spark: SparkSession, dir: String, batchTag: String,
                      groupCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(!batchTag.startsWith("__"),
      s"retractAggState: tag '$batchTag' uses the reserved __ prefix")
    requireJsonSafe("retractAggState: tag", batchTag)
    requireNoTornRebuild(spark, dir, "retractAggState")
    requireMeta(spark, dir, groupCols, valueCols)
    // ONE lease from the sidecar reads through the swap (see
    // compactAggState's note): two racing retractions would otherwise
    // read _retracted.json as the same base list and the second write
    // would clobber the first tag's intent
    IndexFiles.withWriteLease(spark, dir, "retractAggState") {
    IndexFiles.recoverInterruptedSwap(spark, dir, "state", "retractAggState")
    val retracted = readStringList(spark, dir, "_retracted.json")
    val hasRows = !IndexFiles.readParquet(spark, s"$dir/state")
      .filter(col("__batch") === batchTag).isEmpty
    if (retracted.contains(batchTag)) {
      // already retracted — but a crash between the intent write and the
      // swap leaves the rows in place: completion semantics, not a blind
      // no-op (a blind no-op would leave the data counted while the
      // sidecar claims it gone)
      if (hasRows) IndexFiles.stagedSwap(spark, dir, "state")(
        _.filter(col("__batch") =!= batchTag))
    } else {
      require(!readStringList(spark, dir, "_sealed.json").contains(batchTag),
        s"retractAggState: batch '$batchTag' was sealed by a compaction — " +
          "its rows are merged and cannot be individually retracted; " +
          "compact only past the correction horizon")
      val tags = readTags(spark, dir)
      require(tags.contains(batchTag) || hasRows,
        s"retractAggState: unknown batch '$batchTag' — neither committed nor " +
          "any delta rows; committing a typo'd tag would silently block the " +
          "real batch's future fold")
      // adopt a torn fold so the retraction ALSO blocks its late replay
      if (!tags.contains(batchTag)) writeTags(spark, dir, tags :+ batchTag)
      // intent BEFORE the swap: if the swap crashes, the retry above and the
      // next compaction both finish it; the reverse order let a compaction
      // seal-and-merge the rows of a retraction that had already succeeded,
      // turning its documented idempotent retry into a spurious throw
      writeStringList(spark, dir, "_retracted.json", retracted :+ batchTag)
      IndexFiles.stagedSwap(spark, dir, "state")(
        _.filter(col("__batch") =!= batchTag))
    }
    }
    readAggState(spark, dir, groupCols, valueCols)
  }

  private def readStringList(spark: SparkSession, dir: String,
                             name: String): Seq[String] =
    IndexFiles.readFileWithRecovery(spark, dir, name).map { bytes =>
      org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8")) match {
        case org.json4s.JArray(vs) => vs.map {
          case org.json4s.JString(s) => s
          case other => throw new IllegalArgumentException(
            s"malformed AggState sidecar at $dir/$name: entry $other")
        }
        case other => throw new IllegalArgumentException(
          s"malformed AggState sidecar at $dir/$name: $other")
      }
    }.getOrElse(Seq.empty)

  private def writeStringList(spark: SparkSession, dir: String, name: String,
                              xs: Seq[String]): Unit =
    IndexFiles.writeFileSwap(spark, dir, name,
      xs.map(t => "\"" + t + "\"").mkString("[", ",", "]").getBytes("UTF-8"))
}
