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
  * Stored layout: `dir/` is a [[VersionedStore]] with two tables:
  *   - `state` — one row per (group, __batch): the group columns, `__batch`
  *     (which fold produced the row), `cnt`, and per value column
  *     `sum_<v>` (DECIMAL(38,6) — exact and order-independent), `min_<v>`,
  *     `max_<v>`. Its footer schema names every group and value column, so
  *     each entry point checks the caller's columns against it (folding or
  *     reading under a different grouping would silently corrupt every
  *     merged result).
  *   - `tags` — one row per batch tag ever folded, with its status:
  *     `folded` (rows present, retractable), `sealed` (rows merged by a
  *     compaction) or `retracted` (rows dropped). The reserved `__base`
  *     row names the base build and keeps the table non-empty, which the
  *     store requires.
  *
  * EXACTNESS UNDER AT-LEAST-ONCE DELIVERY: every mutation is ONE store
  * commit, and a fold commits its rows and its tag in the same version, so
  * a batch's rows never exist without its tag. A fold whose tag is already
  * in `tags`, in any status, is a no-op that writes nothing — including
  * the replay of a fold whose rows a compaction merged away or a
  * retraction dropped, because `tags` survives both. A fold that crashed
  * before its commit left only an invisible orphan segment (reclaimed by
  * [[IndexRepair.repairAggState]]), so its retry is simply the fold. The
  * tags table grows one short row per fold forever — at one fold a minute
  * that is a few MB a decade, the price of a compaction-proof replay
  * guard; a compaction rewrites it to one segment.
  *
  * Scale: a fold is one batch-sized partial aggregation + one two-table
  * append — the fact table is NEVER rescanned, and the tag lookup reads
  * `tags` on the driver with no Spark job. A read merges
  * (groups x folds-since-compaction) rows; compaction bounds that factor
  * back to 1. The measure algebra is closed under merge, so reads at ANY
  * version are exact over every committed fold. avg derives as sum/cnt at
  * read; count-distinct is NOT in the algebra (not mergeable exactly — use
  * the HLL sketch operators for an approximate mergeable spelling). A
  * DECIMAL(38,6) sum holds magnitudes to 10^32 — far past any physical
  * measure at 100 TB — but note Spark's default non-ANSI behavior on a
  * genuine overflow is a NULL sum, not an error; enable
  * `spark.sql.ansi.enabled` in deployments whose measures could plausibly
  * approach the bound. Writers are single-writer under the store's lease,
  * like every family. */
object AggState {

  /** The reserved tag compaction rewrites merged rows under. */
  val CompactedTag = "__compacted"

  // the reserved tag of the base build's rows and its `tags` row
  private val BaseTag = "__base"

  // the statuses of a `tags` row
  private val Folded = "folded"
  private val Sealed = "sealed"
  private val Retracted = "retracted"

  private def tagRow(spark: SparkSession, tag: String): DataFrame =
    spark.createDataFrame(Seq((tag, Folded))).toDF("tag", "status")

  private def requireUserTag(what: String, tag: String): Unit = {
    require(tag.nonEmpty, s"$what: empty batch tag")
    require(!tag.startsWith("__"), s"$what: tag '$tag' uses the reserved __ prefix")
  }

  // the `state` columns `partials` writes for these group/value columns
  private def stateColumns(groupCols: Seq[String], valueCols: Seq[String]): Seq[String] =
    (groupCols :+ "cnt") ++
      valueCols.flatMap(v => Seq(s"sum_$v", s"min_$v", s"max_$v")) :+ "__batch"

  /** The latest version, after checking the caller's columns against the
    * footer schema of `state` (no job). Throws on a directory that holds
    * no store — a torn first build or a typo'd path must not bootstrap a
    * state missing its base. */
  private def current(spark: SparkSession, dir: String, groupCols: Seq[String],
                      valueCols: Seq[String], what: String): VersionedStore.Snapshot = {
    val snap = VersionedStore.snapshot(spark, dir)
    val stored = snap.schema("state").fieldNames.toSeq
    val passed = stateColumns(groupCols, valueCols)
    require(stored == passed,
      s"$what: AggState column mismatch at $dir: stored state columns " +
        s"${stored.mkString(", ")}; passed ${passed.mkString(", ")} — folding " +
        "or reading under different group/value columns silently corrupts " +
        "every merged result; use the stored values")
    snap
  }

  // the tag's status, read on the driver: the lookup is on every fold's
  // path, where a Spark job would cost several times the read
  private def statusOf(snap: VersionedStore.Snapshot, tag: String): Option[String] =
    snap.driverRows("tags", "tag", "status").collectFirst { case Seq(`tag`, s) => s }

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
    * one group-sized write under the `__base` tag — as version 1 of a
    * fresh store, or, into a directory that already holds one, as ONE
    * rewrite of both tables (a rebuild in place: the new incarnation's
    * tags start over, so the previous one's seals and retractions cannot
    * leak into it). An empty base is refused (the store refuses an empty
    * table). */
  def writeAggState(df: DataFrame, dir: String, groupCols: Seq[String],
                    valueCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty && valueCols.nonEmpty,
      "writeAggState: need at least one group column and one value column")
    val spark = df.sparkSession
    val tables = Map(
      "state" -> partials(df, groupCols, valueCols, BaseTag),
      "tags" -> tagRow(spark, BaseTag))
    IndexFiles.withWriteLease(spark, dir, "writeAggState") {
      VersionedStore.build(spark, dir, tables, "writeAggState")
      VersionedStore.reclaim(spark, dir)
    }
    readAggState(spark, dir, groupCols, valueCols)
  }

  /** Fold one ingest batch into the stored state: one BATCH-SIZED partial
    * aggregation appended together with the batch's `tags` row, in one
    * commit — the fact table is never rescanned. `batchTag` names the
    * batch for the replay contract (see the object scaladoc): a tag
    * already in `tags` makes the call a no-op that writes nothing. Tags
    * must be unique per logical batch and must not start with `__`
    * (reserved). */
  def foldAggState(batch: DataFrame, dir: String, batchTag: String,
                   groupCols: Seq[String], valueCols: Seq[String]): Unit = {
    requireUserTag("foldAggState", batchTag)
    val spark = batch.sparkSession
    // ONE lease from the tag lookup through the commit: two racing folds
    // of the same batch could otherwise both miss the tag and double-count
    IndexFiles.withWriteLease(spark, dir, "foldAggState") {
      val snap = current(spark, dir, groupCols, valueCols, "foldAggState")
      if (statusOf(snap, batchTag).isEmpty)
        VersionedStore.append(spark, dir, Map(
          "state" -> partials(batch, groupCols, valueCols, batchTag),
          "tags" -> tagRow(spark, batchTag)), note = s"foldAggState $batchTag")
    }
  }

  /** Merge the delta rows into the current exact aggregate. `sum_<v>` is
    * exposed as DOUBLE (the exact DECIMAL total cast once at the edge —
    * the house determinism idiom); `avg_<v>` derives from it. Cost:
    * (groups x folds-since-compaction) rows. */
  def readAggState(spark: SparkSession, dir: String, groupCols: Seq[String],
                   valueCols: Seq[String]): DataFrame = {
    val measures = sum(col("cnt")).cast("bigint").as("cnt") +:
      valueCols.flatMap(v => Seq(
        sum(col(s"sum_$v")).cast("decimal(38,6)").cast("double").as(s"sum_$v"),
        min(col(s"min_$v")).as(s"min_$v"),
        max(col(s"max_$v")).as(s"max_$v")))
    current(spark, dir, groupCols, valueCols, "readAggState").table("state")
      .groupBy(groupCols.map(col): _*)
      .agg(measures.head, measures.tail: _*)
  }

  /** Compact the delta rows to ONE row per group under the reserved
    * `__compacted` tag — the read-side merge factor returns to 1 — and
    * SEAL every folded tag: its rows are merged, so it can no longer be
    * individually retracted, and its `tags` row still blocks its replay.
    * One rewrite of both tables, then the superseded segments are
    * reclaimed. */
  def compactAggState(spark: SparkSession, dir: String, groupCols: Seq[String],
                      valueCols: Seq[String]): DataFrame = {
    val mergeMeasures = sum(col("cnt")).cast("bigint").as("cnt") +:
      valueCols.flatMap(v => Seq(
        sum(col(s"sum_$v")).cast("decimal(38,6)").as(s"sum_$v"),
        min(col(s"min_$v")).as(s"min_$v"),
        max(col(s"max_$v")).as(s"max_$v")))
    IndexFiles.withWriteLease(spark, dir, "compactAggState") {
      current(spark, dir, groupCols, valueCols, "compactAggState")
      VersionedStore.rewrite(spark, dir, note = "compactAggState") { cur =>
        Map(
          "state" -> cur("state").groupBy(groupCols.map(col): _*)
            .agg(mergeMeasures.head, mergeMeasures.tail: _*)
            .withColumn("__batch", lit(CompactedTag)),
          "tags" -> cur("tags").withColumn("status",
            when(col("status") === Folded, lit(Sealed)).otherwise(col("status"))))
      }
      VersionedStore.reclaim(spark, dir)
    }
    readAggState(spark, dir, groupCols, valueCols)
  }

  /** Retract a folded batch — the late-arriving-correction path, THE
    * classic pain of incremental aggregates. Because every fold's delta
    * rows are retained verbatim until compaction, retraction is simply
    * dropping the tag's rows, and it is EXACT for every measure — min/max
    * included, which no negative-compensation scheme can retract (a count
    * can go down; a max cannot un-happen without the surviving
    * candidates, which the remaining per-batch rows ARE). One rewrite
    * drops the rows and marks the tag `retracted`, so a replay of the
    * original fold cannot resurrect the data; fold the corrected batch
    * under a NEW tag.
    *
    * By the tag's status: `retracted` is a no-op (retrying a retraction
    * is safe); `sealed` throws — compaction merged its rows, so schedule
    * compaction at the correction horizon (batches old enough to compact
    * are batches you have promised not to retract, the same contract as
    * any LSM seal); a tag never folded throws as an unknown batch (a
    * typo must fail loudly, and a fold that crashed before its commit is
    * not folded). */
  def retractAggState(spark: SparkSession, dir: String, batchTag: String,
                      groupCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    requireUserTag("retractAggState", batchTag)
    IndexFiles.withWriteLease(spark, dir, "retractAggState") {
      val status = statusOf(current(spark, dir, groupCols, valueCols,
        "retractAggState"), batchTag)
      require(status.nonEmpty,
        s"retractAggState: unknown batch '$batchTag' — never folded into $dir")
      require(!status.contains(Sealed),
        s"retractAggState: batch '$batchTag' was sealed by a compaction — " +
          "its rows are merged and cannot be individually retracted; " +
          "compact only past the correction horizon")
      if (status.contains(Folded)) {
        VersionedStore.rewrite(spark, dir, note = s"retractAggState $batchTag") { cur =>
          Map(
            "state" -> cur("state").filter(col("__batch") =!= batchTag),
            "tags" -> cur("tags").withColumn("status",
              when(col("tag") === batchTag, lit(Retracted)).otherwise(col("status"))))
        }
        VersionedStore.reclaim(spark, dir)
      }
    }
    readAggState(spark, dir, groupCols, valueCols)
  }
}
