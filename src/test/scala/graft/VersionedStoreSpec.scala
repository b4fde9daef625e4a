package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.VersionedStore

/** VersionedStore — the manifest/pointer layer. The registry queries
  * oracle-gate the lifecycle arithmetic; this spec pins the protocol
  * properties the query shape can't isolate: snapshot isolation across a
  * rewrite, crash-orphan invisibility and reclamation, commit-race OCC,
  * loud time travel past a vacuum, and the manifest-listing hygiene
  * (dot-tmps ignored, foreign files refused). */
class VersionedStoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rows(a: Int, b: Int) =
    (a until b).map(i => (i.toLong, s"row $i")).toDF("id", "text")

  test("lifecycle: create, multi-table append, rewrite; latest and time travel read exactly their versions") {
    val dir = scratch("vs_life")
    VersionedStore.create(spark, dir,
      Map("docs" -> rows(0, 100), "lens" -> rows(0, 100).select(col("id"))))
    VersionedStore.append(spark, dir,
      Map("docs" -> rows(100, 150), "lens" -> rows(100, 150).select(col("id"))),
      note = "b1")
    // overlapping append: duplicates visible at v3, compacted away at v4
    VersionedStore.append(spark, dir, Map("docs" -> rows(120, 180)), note = "b2")
    val v4 = VersionedStore.rewrite(spark, dir, note = "dedupe") { cur =>
      Map("docs" -> cur("docs").dropDuplicates("id"))
    }
    assert(v4 == 4L)
    assert(VersionedStore.snapshot(spark, dir).table("docs").count() == 180L)
    assert(VersionedStore.snapshot(spark, dir, Some(3L)).table("docs").count() == 210L)
    assert(VersionedStore.snapshot(spark, dir, Some(2L)).table("docs").count() == 150L)
    // the un-rewritten table carried its segments forward
    assert(VersionedStore.snapshot(spark, dir).table("lens").count() == 150L)
    assert(VersionedStore.versions(spark, dir).map(_.note) ==
      Seq("create", "b1", "b2", "dedupe"))
  }

  test("snapshot isolation: a pinned reader is unaffected by a rewrite committed under it") {
    val dir = scratch("vs_iso")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 50)))
    VersionedStore.append(spark, dir, Map("t" -> rows(50, 80)))
    val pinned = VersionedStore.snapshot(spark, dir)
    val df = pinned.table("t") // handle created BEFORE the rewrite
    VersionedStore.rewrite(spark, dir) { cur =>
      Map("t" -> cur("t").filter(col("id") < 10))
    }
    // the staged-swap families document this exact handle as broken
    // ("re-read after compacting"); here it still reads v2 in full
    assert(df.count() == 80L)
    assert(pinned.table("t").count() == 80L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 10L)
  }

  test("crash shapes: an uncommitted segment and a dot-tmp manifest are invisible; vacuum reclaims both") {
    val dir = scratch("vs_crash")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 20)))
    // writer died after its segment write, before its commit
    rows(900, 950).write.parquet(s"$dir/_segments/orphan-seg")
    // writer died before its commit rename
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/.tmp-dead"),
      "{\"version\":2".getBytes("UTF-8"))
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 20L)
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L))
    val (segs, mans) = VersionedStore.vacuum(spark, dir, keepLast = 1)
    assert(segs == 1 && mans == 1) // the dot-tmp counts as a manifest
    assert(!new java.io.File(s"$dir/_segments/orphan-seg").exists())
    assert(!new java.io.File(s"$dir/_manifests/.tmp-dead").exists())
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 20L)
  }

  test("a foreign file in _manifests is refused, not skipped") {
    val dir = scratch("vs_foreign")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/v1.json.bak"),
      "{}".getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      VersionedStore.versionNumbers(spark, dir)
    }
    assert(e.getMessage.contains("unrecognized file"))
  }

  test("commit race: a manifest committed out from under a writer throws, and the racer's version stands") {
    val dir = scratch("vs_race")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    // simulate the racer landing v2 INSIDE our writer's read-commit window
    // (two real writers can't be interleaved deterministically, so drive
    // the commit step directly): the racer's v2 is already down when our
    // commit of the same version runs
    val m1 = java.nio.file.Paths.get(s"$dir/_manifests/v00000001.json")
    val planted = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replace("\"version\":1", "\"version\":2")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/v00000002.json"),
      planted.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      VersionedStore.commit(spark, dir,
        VersionedStore.Manifest(2L, 1L, "loser",
          Map("t" -> Seq(VersionedStore.SegMeta("nope", 0L, Map.empty, Map.empty)))))
    }
    assert(e.getMessage.contains("lost the commit race"))
    // the racer's manifest is untouched and no dot-tmp litter remains
    assert(VersionedStore.snapshot(spark, dir).version == 2L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 5L)
    assert(!new java.io.File(s"$dir/_manifests").listFiles()
      .exists(_.getName.startsWith(".tmp-")))
  }

  test("vacuum: superseded segments reclaimed, time travel past it fails loudly, latest intact") {
    val dir = scratch("vs_vac")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 30)))
    VersionedStore.append(spark, dir, Map("t" -> rows(30, 60)))
    VersionedStore.rewrite(spark, dir) { cur =>
      Map("t" -> cur("t").filter(col("id") % 2 === 0))
    }
    val (segs, mans) = VersionedStore.vacuum(spark, dir, keepLast = 1)
    assert(segs == 2 && mans == 2)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 30L)
    val e = intercept[IllegalArgumentException] {
      VersionedStore.snapshot(spark, dir, Some(2L))
    }
    assert(e.getMessage.contains("vacuumed or never committed"))
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(3L))
  }

  test("diff: appended segments only; a rewrite makes the diff the whole table (reprocess signal)") {
    val dir = scratch("vs_diff")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 10)))
    VersionedStore.append(spark, dir, Map("t" -> rows(10, 25)))
    VersionedStore.append(spark, dir, Map("t" -> rows(25, 32)))
    assert(VersionedStore.diff(spark, dir, "t", 1L, 3L).count() == 22L)
    assert(VersionedStore.diff(spark, dir, "t", 3L, 3L).count() == 0L)
    // schema survives the empty diff
    assert(VersionedStore.diff(spark, dir, "t", 3L, 3L).columns.toSeq ==
      Seq("id", "text"))
    VersionedStore.rewrite(spark, dir) { cur => Map("t" -> cur("t")) }
    assert(VersionedStore.diff(spark, dir, "t", 3L, 4L).count() == 32L)
  }

  test("an append whose schema drifts from the stored segments is refused") {
    val dir = scratch("vs_schema")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    val drifted = (5 until 9).map(i => (i.toLong, s"row $i", "en"))
      .toDF("id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      VersionedStore.append(spark, dir, Map("t" -> drifted))
    }
    assert(e.getMessage.contains("schema"))
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L))
    // the sanctioned path: rewrite re-materializes every row in the new shape
    VersionedStore.rewrite(spark, dir, note = "add lang") { cur =>
      Map("t" -> cur("t").withColumn("lang", lit("und")))
    }
    VersionedStore.append(spark, dir, Map("t" -> drifted))
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 9L)
    assert(VersionedStore.snapshot(spark, dir).table("t")
      .filter(col("lang") === "und").count() == 5L)
  }

  test("a manifest note with control characters round-trips (valid JSON)") {
    val dir = scratch("vs_note")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 3)),
      note = "line1\nline2\t\"quoted\"")
    assert(VersionedStore.versions(spark, dir).head.note ==
      "line1\nline2\t\"quoted\"")
  }

  test("a 9-digit version number lists and reads (the %08d width is a minimum)") {
    val dir = scratch("vs_wide")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 3)))
    val m1 = java.nio.file.Paths.get(s"$dir/_manifests/v00000001.json")
    val wide = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .replace("\"version\":1", "\"version\":100000000")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/v100000000.json"),
      wide.getBytes("UTF-8"))
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L, 100000000L))
    assert(VersionedStore.snapshot(spark, dir).version == 100000000L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 3L)
  }

  test("appendOnce: a replayed tag commits nothing; a new tag commits; vacuum keeps the ledger") {
    val dir = scratch("vs_once")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 10)))
    assert(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 20)), "b_0") == 2L)
    // at-least-once replay: same tag, same (or even different) rows — no-op
    assert(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 20)), "b_0") == 2L)
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L, 2L))
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 20L)
    assert(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(20, 25)), "b_1") == 3L)
    // vacuum at the documented replay horizon (keepLast=2): the last
    // trigger's tag survives in the ledger, so its replay still no-ops
    VersionedStore.vacuum(spark, dir, keepLast = 2)
    assert(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(20, 25)), "b_1") == 3L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 25L)
  }

  test("versioned stream restart from a durable checkpoint continues batchIds; a lost checkpoint discards new data") {
    val dir = scratch("vs_restart")
    val b1 = rows(100, 150)
    val b2 = rows(150, 170)
    VersionedStore.create(spark, dir + "/st", Map("t" -> rows(0, 100)))
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
      val stream = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamingVersioned.versionedIngestStream(
        stream, s"$dir/st", "t", checkpointDir = ckpt)
      q.processAllAvailable(); q.stop()
    }
    // ingest b1, STOP, restart as a brand-new query over the SAME durable
    // checkpoint, ingest b2 — the restart must continue the batchId
    // sequence (note ledger t_0 then t_1), not reissue 0
    stage(b1, s"$dir/in1", 0)
    runOnce(s"$dir/in1", s"$dir/ckpt")
    stage(b2, s"$dir/in1", 1)
    runOnce(s"$dir/in1", s"$dir/ckpt")
    assert(VersionedStore.snapshot(spark, s"$dir/st").table("t").count() == 170L)
    assert(VersionedStore.versions(spark, s"$dir/st").map(_.note) ==
      Seq("create", "t_0", "t_1"))
    // the documented lost-checkpoint failure mode, OBSERVED: a restart
    // with a fresh checkpoint reissues batchId 0 for brand-new data; tag
    // t_0 is already in the ledger, so the batch silently no-ops
    stage(rows(900, 930), s"$dir/in2", 0)
    runOnce(s"$dir/in2", s"$dir/ckpt_lost")
    assert(VersionedStore.snapshot(spark, s"$dir/st").table("t").count() == 170L,
      "the lost-checkpoint restart must exhibit the documented silent discard")
    // which is why the loop refuses to start without an explicit checkpoint
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingVersioned.versionedIngestStream(
        spark.readStream.schema(b1.schema).parquet(s"$dir/in2"),
        s"$dir/st", "t", checkpointDir = "")
    }
    assert(e.getMessage.contains("durable checkpoint"))
  }

  test("segment statistics: O(1) rowCount; range reads open ONLY overlapping segments; pruning never changes the answer") {
    val dir = scratch("vs_stats")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 100)))
    VersionedStore.append(spark, dir, Map("t" -> rows(100, 200)))
    VersionedStore.append(spark, dir, Map("t" -> rows(200, 300)))
    val snap = VersionedStore.snapshot(spark, dir)
    assert(snap.rowCount("t") == 300L)
    // the range lives entirely in the middle segment — its files are the
    // only ones the pruned read opens (the inputFiles pin)
    val pruned = snap.tableRange("t", "id", 120, 180)
    val midSeg = snap.manifest.tables("t")
      .find(s => s.min("id") == 100L && s.max("id") == 199L).get
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains(midSeg.name)))
    assert(pruned.count() == 61L)
    assert(pruned.agg(sum("id")).collect().head.getLong(0) ==
      snap.table("t").filter(col("id").between(120, 180))
        .agg(sum("id")).collect().head.getLong(0))
    // a range past every segment reads nothing but keeps the schema
    val none = snap.tableRange("t", "id", 1000, 2000)
    assert(none.count() == 0L && none.columns.toSeq == Seq("id", "text"))
    // stats follow a rewrite (recomputed from the rewritten bytes)
    VersionedStore.rewrite(spark, dir) { cur =>
      Map("t" -> cur("t").filter(col("id") < 150))
    }
    val snap2 = VersionedStore.snapshot(spark, dir)
    assert(snap2.rowCount("t") == 150L)
    assert(snap2.manifest.tables("t").head.max("id") == 149L)
  }

  test("checkVersionedStore reads all-zeros on a clean store; restampStats is content-neutral") {
    val dir = scratch("vs_fsck")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 40)))
    VersionedStore.append(spark, dir, Map("t" -> rows(40, 70)))
    assert(graft.operators.IndexFsck.checkVersionedStore(spark, dir)
      .agg(sum("violations")).collect().head.getLong(0) == 0L)
    val v = VersionedStore.restampStats(spark, dir)
    assert(v == 3L)
    val snap = VersionedStore.snapshot(spark, dir)
    assert(snap.rowCount("t") == 70L)
    assert(snap.table("t").count() == 70L)
    assert(graft.operators.IndexFsck.checkVersionedStore(spark, dir)
      .agg(sum("violations")).collect().head.getLong(0) == 0L)
  }

  test("a pre-statistics manifest (bare segment names) stays readable; rowCount falls back; restamp upgrades") {
    val dir = scratch("vs_legacy")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 25)))
    val seg = VersionedStore.snapshot(spark, dir).manifest.tables("t").head.name
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_manifests/v00000002.json"),
      s"""{"version":2,"parent":1,"note":"legacy","tables":{"t":["$seg"]}}"""
        .getBytes("UTF-8"))
    val snap = VersionedStore.snapshot(spark, dir)
    assert(snap.version == 2L)
    assert(snap.manifest.tables("t").head.rows == VersionedStore.UnknownRows)
    assert(snap.rowCount("t") == 25L) // falls back to a real count
    // stat-less segments read conservatively, answers stay exact
    assert(snap.tableRange("t", "id", 0, 5).count() == 6L)
    VersionedStore.restampStats(spark, dir)
    val up = VersionedStore.snapshot(spark, dir)
    assert(up.manifest.tables("t").head.rows == 25L)
    assert(graft.operators.IndexFsck.checkVersionedStore(spark, dir)
      .agg(sum("violations")).collect().head.getLong(0) == 0L)
  }

  test("an all-empty append commits nothing (at-least-once replay hygiene)") {
    val dir = scratch("vs_empty")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    val v = VersionedStore.append(spark, dir,
      Map("t" -> rows(0, 5).filter(col("id") < 0)))
    assert(v == 1L)
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L))
  }

  test("append evaluates a non-deterministic batch ONCE: stats match the stored rows, empties never commit") {
    // VERDICT r12 #5: the old isEmpty + writeSegment pair evaluated the
    // batch plan twice — a rand()-filtered batch could be empty at the
    // check and non-empty at the write (or commit the zero-row segment the
    // guard exists to skip), and its manifest stats could describe rows
    // the segment doesn't hold. Drive it many times: every committed
    // version's stamped row count must equal its stored segment's count.
    val dir = scratch("vs_nondet")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    (1 to 10).foreach { _ =>
      VersionedStore.append(spark, dir,
        Map("t" -> rows(0, 400).filter(rand() < 0.5)))
    }
    VersionedStore.versions(spark, dir).foreach { m =>
      m.tables("t").foreach { s =>
        val stored = spark.read.parquet(s"$dir/_segments/${s.name}").count()
        assert(stored == s.rows,
          s"v${m.version} seg ${s.name}: stamped ${s.rows}, stored $stored")
        assert(stored > 0, s"v${m.version} committed a zero-row segment")
      }
    }
    // and the appends released their checkpoint blocks
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("appendOnce tags are namespaced apart from notes: a free-form note equal to a tag discards nothing") {
    // ADVICE r12 (medium): the old ledger matched ANY prior note, so an
    // append note equal to a future tag made appendOnce silently drop a
    // real batch — silent data loss. Tags now live in their own field.
    val dir = scratch("vs_tagns")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    VersionedStore.append(spark, dir, Map("t" -> rows(5, 10)), note = "b_7")
    // the tag equal to that note MUST still commit its batch
    val v = VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 15)), "b_7")
    assert(v == 3L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 15L)
    // the replayed tag is a no-op against the TAGGED version only
    assert(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 15)), "b_7") == 3L)
    assert(VersionedStore.snapshot(spark, dir).table("t").count() == 15L)
    // and an empty tag is refused outright
    intercept[IllegalArgumentException](
      VersionedStore.appendOnce(spark, dir, Map("t" -> rows(15, 16)), ""))
  }

  test("rewrite and create refuse an empty table (the shape append refuses)") {
    val dir = scratch("vs_rw_empty")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 5)))
    val e = intercept[IllegalArgumentException](
      VersionedStore.rewrite(spark, dir, note = "retention") { cur =>
        Map("t" -> cur("t").filter(col("id") < 0))
      })
    assert(e.getMessage.contains("EMPTY"))
    // the refused rewrite committed nothing
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(1L))
    intercept[IllegalArgumentException](
      VersionedStore.create(spark, scratch("vs_cr_empty"),
        Map("t" -> rows(0, 5).filter(col("id") < 0))))
  }
}
