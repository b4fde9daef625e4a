package graft.operators

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Crash-point sweeps of a persisted family's entry points. For each one,
  * a clean run on a small fixture counts its driver-side file calls
  * (`create`, `rename`, `delete`, `mkdirs` through [[FaultyFileSystem]]);
  * then, for EVERY N up to that count, a fresh copy of the starting state
  * runs the entry point with a fault at call N — a crash there — after
  * which the entry point is re-run and the directory repaired. Every N
  * must end with fsck reading zero and the state equal to the clean
  * run's, and no faulted call may both throw and have committed: a caller
  * that sees a failure must be able to trust that nothing landed.
  *
  * A family's spec supplies its `state` (the content a read returns),
  * its fsck violation count and its repair. */
abstract class CrashSweep[S] extends AnyFunSuite with BeforeAndAfterAll {

  /** The content of the state at `dir`, comparable with `==`. */
  protected def state(dir: String): S

  /** The sum of the family's fsck violations at `dir`. */
  protected def violations(dir: String): Long

  /** The family's repair of `dir`. */
  protected def repair(dir: String): Unit

  override def beforeAll(): Unit = {
    val hc = graft.TestSpark.spark.sparkContext.hadoopConfiguration
    hc.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    hc.setBoolean("fs.faulty.impl.disable.cache", true)
  }

  protected def scratch(tag: String): java.io.File =
    java.nio.file.Files.createTempDirectory(tag).toFile

  protected def faulty(d: java.io.File): String =
    s"${FaultyFileSystem.Scheme}://${d.getAbsolutePath}"

  /** Sweep one entry point: `prepare` builds the starting state (once;
    * each run starts from a copy), `op` runs the entry point. Reports the
    * clean run's calls, and every N whose fault left the change committed
    * (it surfaced after the commit and was logged, not thrown). */
  protected def sweep(name: String)(prepare: String => Unit)(op: String => Unit): Unit = {
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
    def clean(): (Seq[String], S) = {
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
        assert(!(threw && committed), s"$name: fault $n (${at.get}) threw after its change committed")
        assert(threw || committed, s"$name: fault $n (${at.get}) returned without committing")
        op(dir)
        repair(dir)
        assert(violations(dir) == 0L, s"$name: fsck after fault $n (${at.get}), re-run and repair")
        assert(state(dir) == want, s"$name: state after fault $n (${at.get}), re-run and repair")
        if (committed) info(s"$name: N=$n ${at.get}: committed, logged")
      }
    } finally runs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }
}
