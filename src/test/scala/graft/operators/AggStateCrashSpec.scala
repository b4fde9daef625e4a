package graft.operators

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-point sweep of the aggregate state's entry points. For each one,
  * a clean run on a small fixture counts its driver-side file calls
  * (`create`, `rename`, `delete`, `mkdirs` through [[FaultyFileSystem]]);
  * then, for EVERY N up to that count, a fresh copy of the starting state
  * runs the entry point with a fault at call N — a crash there — after
  * which the entry point is re-run and the directory repaired
  * ([[IndexRepair.repairAggState]]). Every N must end with fsck reading
  * zero and the state (merged read and tag statuses) equal to the clean
  * run's. */
class AggStateCrashSpec extends AnyFunSuite with BeforeAndAfterAll {
  import graft.TestSpark._
  import spark.implicits._

  override def beforeAll(): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    hc.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  private val g = Seq("g")
  private val v = Seq("v")
  private lazy val base = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("g", "v")
  private lazy val b1 = Seq(("a", 10L), ("c", 5L)).toDF("g", "v")
  private lazy val b2 = Seq(("b", 7L), ("c", 1L)).toDF("g", "v")

  private def scratch(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(tag).toFile

  private def faulty(d: java.io.File): String = s"${FaultyFileSystem.Scheme}://${d.getAbsolutePath}"

  private def state(dir: String): (Seq[Seq[Any]], Seq[Seq[String]]) = (
    AggState.readAggState(spark, dir, g, v).orderBy("g").collect().map(_.toSeq.toVector).toSeq,
    VersionedStore.snapshot(spark, dir).driverRows("tags", "tag", "status").sortBy(_.head))

  private def violations(dir: String): Long =
    IndexFsck.checkAggState(spark, dir).agg(sum("violations")).head().getLong(0)

  /** Sweep one entry point: `prepare` builds the starting state (once;
    * each run starts from a copy), `op` runs the entry point. Reports the
    * clean run's calls, and every N whose fault surfaced AFTER the commit
    * (the caller sees a failure although the change landed) or not at
    * all. */
  private def sweep(name: String)(prepare: String => Unit)(op: String => Unit): Unit = {
    val template = scratch(s"crash_$name")
    val runs = scala.collection.mutable.Buffer(template)
    // a call as "op path-under-the-run-directory"
    def short(call: String, dir: String): String =
      call.replace(new java.net.URI(dir).getPath + "/", "")
    def fresh(): String = {
      val d = scratch(s"crash_${name}_run")
      runs += d
      org.apache.commons.io.FileUtils.copyDirectory(template, d)
      faulty(d)
    }
    def clean(): (Seq[String], (Seq[Seq[Any]], Seq[Seq[String]])) = {
      val dir = fresh()
      FaultyFileSystem.arm(0)
      op(dir)
      (FaultyFileSystem.trace.map(short(_, dir)), state(dir))
    }
    try {
      FaultyFileSystem.disarm()
      prepare(faulty(template))
      val (calls, want) = clean()
      assert(clean()._1.size == calls.size,
        s"$name: the driver call count of a clean run must not vary")
      info(s"$name: ${calls.size} driver calls: ${calls.mkString("; ")}")
      (1 to calls.size).foreach { n =>
        val dir = fresh()
        FaultyFileSystem.arm(n)
        val threw = try { op(dir); false }
        catch { case scala.util.control.NonFatal(_) => true }
        finally FaultyFileSystem.disarm()
        val at = FaultyFileSystem.hit.map(short(_, dir))
        assert(at.nonEmpty, s"$name: fault $n of ${calls.size} was never reached")
        val committed = try state(dir) == want catch { case scala.util.control.NonFatal(_) => false }
        op(dir)
        IndexRepair.repairAggState(spark, dir).collect()
        assert(violations(dir) == 0L, s"$name: fsck after fault $n (${at.get}), re-run and repair")
        assert(state(dir) == want, s"$name: state after fault $n (${at.get}), re-run and repair")
        if (committed || !threw) info(s"$name: N=$n ${at.get}: threw=$threw, committed=$committed")
      }
    } finally runs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  private def write(dir: String, df: DataFrame = base): Unit =
    AggState.writeAggState(df, dir, g, v)

  test("crash sweep: writeAggState into a fresh directory, every driver call") {
    sweep("write_fresh")(_ => ())(write(_))
  }

  test("crash sweep: writeAggState rebuilding in place, every driver call") {
    sweep("write_in_place") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v)
    }(write(_, base.unionAll(b2)))
  }

  test("crash sweep: foldAggState, every driver call") {
    sweep("fold") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v)
    }(AggState.foldAggState(b2, _, "b2", g, v))
  }

  test("crash sweep: compactAggState, every driver call") {
    sweep("compact") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v); AggState.foldAggState(b2, d, "b2", g, v)
    }(AggState.compactAggState(spark, _, g, v))
  }

  test("crash sweep: retractAggState, every driver call") {
    sweep("retract") { d =>
      write(d); AggState.foldAggState(b1, d, "b1", g, v); AggState.foldAggState(b2, d, "b2", g, v)
    }(AggState.retractAggState(spark, _, "b1", g, v))
  }
}
