package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AggState, IndexFsck, IndexRepair, VersionedStore}

/** The materialized aggregate state lifecycle (AggState): fold+read equals
  * a from-scratch recompute, the replay contract (a committed fold
  * replays as a no-op that writes nothing, before and after compaction or
  * retraction; a fold that crashed before its commit is invisible until
  * its retry), column validation, retraction and sealing, and the crash
  * shapes its store can hold (an orphan segment, a `.tmp-` manifest). The
  * every-call crash sweep is [[graft.operators.AggStateCrashSpec]]. */
class AggStateSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val gCols = Seq("l_returnflag", "l_linestatus")
  private val vCols = Seq("l_quantity", "l_extendedprice")

  private lazy val li = graft.engine.Tables
    .table(spark, sfDir, "lineitem")
    .select("l_orderkey", "l_returnflag", "l_linestatus",
      "l_quantity", "l_extendedprice")
  private def base = li.filter($"l_orderkey" % 4 =!= 0).drop("l_orderkey")
  private def b1 = li.filter($"l_orderkey" % 8 === 0).drop("l_orderkey")
  private def b2 = li.filter($"l_orderkey" % 8 === 4).drop("l_orderkey")

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def recompute(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(gCols.map(col): _*)
    .agg(count(lit(1)).cast("bigint").as("cnt"),
      sum($"l_quantity".cast("decimal(38,6)")).cast("decimal(38,6)")
        .cast("double").as("sum_l_quantity"),
      min($"l_quantity").as("min_l_quantity"),
      max($"l_quantity").as("max_l_quantity"),
      sum($"l_extendedprice".cast("decimal(38,6)")).cast("decimal(38,6)")
        .cast("double").as("sum_l_extendedprice"),
      min($"l_extendedprice").as("min_l_extendedprice"),
      max($"l_extendedprice").as("max_l_extendedprice"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.orderBy(gCols.map(col): _*).collect().map(_.toSeq.toVector).toSeq

  private def read(dir: String) = rows(AggState.readAggState(spark, dir, gCols, vCols))

  private def stored(dir: String, table: String) =
    VersionedStore.snapshot(spark, dir).table(table)

  private def tags(dir: String): Map[String, String] =
    stored(dir, "tags").as[(String, String)].collect().toMap

  // every file under the directory, with its length
  private def listing(dir: String): Map[String, Long] =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
      .toArray(Array.empty[java.io.File]).map(f => f.getPath -> f.length).toMap

  // the debris of a commit that crashed before its rename: a segment of
  // `rows`, and a half-written `.tmp-` manifest
  private def plantUncommitted(rows: org.apache.spark.sql.DataFrame, dir: String): Unit =
    graft.queries.OperatorQueries.plantUncommittedAppend(spark, rows, dir)

  private def violations(dir: String): Long =
    IndexFsck.checkAggState(spark, dir).agg(sum("violations")).head().getLong(0)

  test("write + fold + read equals a from-scratch recompute, bit-exact") {
    val dir = scratch("aggstate")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    AggState.foldAggState(b2, dir, "b2", gCols, vCols)
    val got = read(dir)
    assert(got.nonEmpty)
    assert(got == rows(recompute(base.unionAll(b1).unionAll(b2))))
    // one store, one commit per mutation: the base build and two folds
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L, 2L, 3L))
    assert(tags(dir) == Map("__base" -> "folded", "b1" -> "folded", "b2" -> "folded"))
  }

  test("replay legs: a committed fold replays as a no-op; a crashed fold is invisible until retried") {
    val dir = scratch("aggstate_rp")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    val want = read(dir)
    // leg 1: a committed replay writes nothing at all
    val files = listing(dir)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    assert(listing(dir) == files)
    assert(read(dir) == want)
    // leg 2: a fold of b2 that crashed before its commit left its rows in
    // an orphan segment — not counted, reported by fsck
    plantUncommitted(AggState.partials(b2, gCols, vCols, "b2"), dir)
    assert(read(dir) == want)
    assert(violations(dir) == 2L)
    // its retry is simply the fold, and counts b2 once
    AggState.foldAggState(b2, dir, "b2", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1).unionAll(b2))))
    IndexRepair.repairAggState(spark, dir)
    assert(violations(dir) == 0L)
    assert(read(dir) == rows(recompute(base.unionAll(b1).unionAll(b2))))
  }

  test("compaction: one row per group, reads unchanged, pre-compaction replay blocked") {
    val dir = scratch("aggstate_cmp")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    val want = read(dir)
    AggState.compactAggState(spark, dir, gCols, vCols)
    val st = stored(dir, "state")
    assert(st.groupBy(gCols.map(col): _*).count().filter($"count" > 1).count() == 0)
    assert(st.select("__batch").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(AggState.CompactedTag))
    assert(read(dir) == want)
    // the superseded versions are reclaimed
    assert(VersionedStore.versionNumbers(spark, dir).size == 1)
    assert(tags(dir) == Map("__base" -> "sealed", "b1" -> "sealed"))
    // leg 3: b1's delta rows were merged away — only its sealed tag can
    // block this replay from double-counting
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    assert(read(dir) == want)
    // and a genuinely new fold after compaction still lands
    AggState.foldAggState(b2, dir, "b2", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1).unionAll(b2))))
  }

  test("a crashed fold compacted past is not merged; its retry after compaction counts once") {
    val dir = scratch("aggstate_orphan")
    AggState.writeAggState(base, dir, gCols, vCols)
    plantUncommitted(AggState.partials(b1, gCols, vCols, "tb1"), dir)
    AggState.compactAggState(spark, dir, gCols, vCols)
    assert(read(dir) == rows(recompute(base)))
    // the compaction's reclaim swept the debris with the superseded versions
    assert(violations(dir) == 0L)
    AggState.foldAggState(b1, dir, "tb1", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
    AggState.foldAggState(b1, dir, "tb1", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
  }

  test("fold refuses a missing state table and recovers a torn compaction swap") {
    // no store (torn first build / typo'd path) must not silently bootstrap
    val dir = scratch("aggstate_guard")
    val e = intercept[IllegalArgumentException] {
      AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    }
    assert(e.getMessage.contains("no versions"))
    assert(VersionedStore.versionNumbers(spark, dir).isEmpty)
    // a compaction whose commit never landed (its merged segment and a
    // `.tmp-` manifest): the previous version still serves, and the fold
    // appends to it
    val dir2 = scratch("aggstate_guard2")
    AggState.writeAggState(base, dir2, gCols, vCols)
    AggState.foldAggState(b2, dir2, "b2", gCols, vCols)
    plantUncommitted(AggState.partials(base.unionAll(b2), gCols, vCols, AggState.CompactedTag), dir2)
    AggState.foldAggState(b1, dir2, "b1", gCols, vCols)
    assert(read(dir2) == rows(recompute(base.unionAll(b1).unionAll(b2))))
    // the re-run compaction reaches the same merged state
    AggState.compactAggState(spark, dir2, gCols, vCols)
    assert(read(dir2) == rows(recompute(base.unionAll(b1).unionAll(b2))))
    assert(violations(dir2) == 0L)
  }

  test("retraction: exact for every measure, blocked after sealing, idempotent") {
    val dir = scratch("aggstate_retract")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    AggState.foldAggState(b2, dir, "b2", gCols, vCols)
    // exact removal — min/max revert too, because the surviving per-batch
    // rows ARE the remaining candidates
    val want = rows(recompute(base.unionAll(b2)))
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    assert(read(dir) == want)
    assert(tags(dir)("b1") == "retracted")
    // the retracted fold's replay must not resurrect the data
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    assert(read(dir) == want)
    // re-retract is a no-op
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    assert(read(dir) == want)
    // sealing: after compaction, b2 cannot be individually retracted
    AggState.compactAggState(spark, dir, gCols, vCols)
    val e = intercept[IllegalArgumentException] {
      AggState.retractAggState(spark, dir, "b2", gCols, vCols)
    }
    assert(e.getMessage.contains("sealed"))
    // but the already-retracted tag still no-ops politely post-seal
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    assert(read(dir) == want)
    assert(tags(dir) == Map("__base" -> "sealed", "b1" -> "retracted", "b2" -> "sealed"))
  }

  test("a retraction is one commit: a crashed one leaves the batch counted and retractable") {
    val dir = scratch("aggstate_ri")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    // the retraction's rewritten state segment landed, its commit did not
    plantUncommitted(stored(dir, "state").filter($"__batch" =!= "b1"), dir)
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
    assert(tags(dir)("b1") == "folded")
    // a compaction now would seal b1; the retry retracts it instead
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    assert(read(dir) == rows(recompute(base)))
    assert(violations(dir) == 0L)
  }

  test("rebuild-in-place starts a fresh tags table; unknown-tag retract throws") {
    val dir = scratch("aggstate_rebuild")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    AggState.compactAggState(spark, dir, gCols, vCols) // seals everything
    // new incarnation in the same directory
    AggState.writeAggState(base, dir, gCols, vCols)
    assert(tags(dir) == Map("__base" -> "folded"))
    // the previous incarnation's retraction must not turn this fold's tag
    // into a vacuous no-op...
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
    // ...and the previous seal must not block its retraction
    AggState.retractAggState(spark, dir, "b1", gCols, vCols)
    assert(read(dir) == rows(recompute(base)))
    // a typo'd tag (never folded) fails loudly
    val e = intercept[IllegalArgumentException] {
      AggState.retractAggState(spark, dir, "b99", gCols, vCols)
    }
    assert(e.getMessage.contains("unknown batch"))
  }

  test("retracting a crashed fold throws as unknown; its retry then folds") {
    val dir = scratch("aggstate_retract_torn")
    AggState.writeAggState(base, dir, gCols, vCols)
    plantUncommitted(AggState.partials(b1, gCols, vCols, "tb1"), dir)
    val e = intercept[IllegalArgumentException] {
      AggState.retractAggState(spark, dir, "tb1", gCols, vCols)
    }
    assert(e.getMessage.contains("unknown batch"))
    assert(read(dir) == rows(recompute(base)))
    AggState.foldAggState(b1, dir, "tb1", gCols, vCols) // the late retry
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
  }

  test("meta validation fails loudly; reserved tags rejected") {
    val dir = scratch("aggstate_meta")
    AggState.writeAggState(base, dir, gCols, vCols)
    Seq(
      () => AggState.readAggState(spark, dir, Seq("l_returnflag"), vCols),
      () => AggState.readAggState(spark, dir, gCols.reverse, vCols),
      () => AggState.foldAggState(b1, dir, "b1", gCols, vCols.take(1))
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("column mismatch"))
    }
    val e2 = intercept[IllegalArgumentException] {
      AggState.foldAggState(b1, dir, "__sneaky", gCols, vCols)
    }
    assert(e2.getMessage.contains("reserved"))
    intercept[IllegalArgumentException](AggState.foldAggState(b1, dir, "", gCols, vCols))
    // tags are data now, not hand-built JSON: any other string is a tag
    AggState.foldAggState(b1, dir, "b\"1", gCols, vCols)
    AggState.foldAggState(b1, dir, "b\"1", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1))))
  }

  test("read recovers an interrupted compaction swap; streaming body is replay-exact") {
    val dir = scratch("aggstate_torn")
    AggState.writeAggState(base, dir, gCols, vCols)
    val want = read(dir)
    // a compaction that crashed before its commit: the read serves the
    // committed version
    plantUncommitted(AggState.partials(b1, gCols, vCols, AggState.CompactedTag), dir)
    assert(read(dir) == want)
    // streaming per-batch body: same tag twice, merged read unchanged
    graft.streaming.StreamingAggState.aggStateBatch(b1, dir, gCols, vCols, "t_0")
    val after = read(dir)
    graft.streaming.StreamingAggState.aggStateBatch(b1, dir, gCols, vCols, "t_0")
    assert(read(dir) == after)
    assert(after == rows(recompute(base.unionAll(b1))))
  }

  test("stream restart from a durable checkpoint continues batchIds; a lost checkpoint discards new data") {
    val dir = scratch("aggstate_restart")
    AggState.writeAggState(base, s"$dir/st", gCols, vCols)
    def stage(df: org.apache.spark.sql.DataFrame, inDir: String, n: Int): Unit = {
      new java.io.File(inDir).mkdirs()
      val tmp = s"$dir/stage_${inDir.split('/').last}_$n"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$inDir/$n.parquet"))
    }
    def runOnce(inDir: String, ckpt: String): Unit = {
      val stream = spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamingAggState.aggStateStream(
        stream, s"$dir/st", gCols, vCols, checkpointDir = ckpt)
      q.processAllAvailable(); q.stop()
    }
    // ingest b1, STOP, restart the loop as a brand-new query over the SAME
    // durable checkpoint, ingest b2 — the restarted query must continue
    // the batchId sequence, not reissue 0
    stage(b1, s"$dir/in1", 0)
    runOnce(s"$dir/in1", s"$dir/ckpt")
    stage(b2, s"$dir/in1", 1)
    runOnce(s"$dir/in1", s"$dir/ckpt")
    val want = rows(recompute(base.unionAll(b1).unionAll(b2)))
    assert(rows(AggState.readAggState(spark, s"$dir/st", gCols, vCols)) == want)
    // batchId continuity pinned directly: b2's fold committed under t_1
    assert(stored(s"$dir/st", "state").select("__batch")
      .distinct().collect().map(_.getString(0)).toSet
      == Set("__base", "t_0", "t_1"))
    // the failure mode the durable-checkpoint requirement exists for,
    // OBSERVED rather than argued: a restart whose checkpoint was lost
    // (Spark's temporary checkpoints are per-query throwaways) reissues
    // batchId 0 for brand-new data — tag t_0 is already committed, so the
    // batch is silently discarded
    val b3 = b1.withColumn("l_quantity", $"l_quantity" + 1)
    stage(b3, s"$dir/in2", 0)
    runOnce(s"$dir/in2", s"$dir/ckpt_lost")
    assert(rows(AggState.readAggState(spark, s"$dir/st", gCols, vCols)) == want,
      "the lost-checkpoint restart must exhibit the documented silent discard")
    // which is why the loop refuses to start without an explicit checkpoint
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingAggState.aggStateStream(
        spark.readStream.schema(base.schema).parquet(s"$dir/in2"),
        s"$dir/st", gCols, vCols, checkpointDir = "")
    }
    assert(e.getMessage.contains("durable checkpoint"))
  }

  test("a crashed rebuild in place leaves the previous build serving; re-run equals a fresh build") {
    val dir = scratch("aggstate_reb_torn")
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1, dir, "b1", gCols, vCols)
    val want = read(dir)
    // the rebuild's state segment landed, its commit did not
    plantUncommitted(AggState.partials(b2, gCols, vCols, "__base"), dir)
    assert(read(dir) == want)
    AggState.foldAggState(b2, dir, "b2", gCols, vCols)
    assert(read(dir) == rows(recompute(base.unionAll(b1).unionAll(b2))))
    // the re-run rebuild replaces the whole previous incarnation
    AggState.writeAggState(b2, dir, gCols, vCols)
    assert(read(dir) == rows(recompute(b2)))
    assert(tags(dir) == Map("__base" -> "folded"))
    assert(violations(dir) == 0L)
  }

  test("an empty base is refused: the store holds no empty table") {
    val dir = scratch("aggstate_empty")
    val e = intercept[IllegalArgumentException] {
      AggState.writeAggState(base.limit(0), dir, gCols, vCols)
    }
    assert(e.getMessage.contains("EMPTY"))
    assert(VersionedStore.versionNumbers(spark, dir).isEmpty)
    // an empty batch folds: its tag is recorded, no rows change
    AggState.writeAggState(base, dir, gCols, vCols)
    AggState.foldAggState(b1.limit(0), dir, "e1", gCols, vCols)
    assert(read(dir) == rows(recompute(base)))
    assert(tags(dir)("e1") == "folded")
  }
}
