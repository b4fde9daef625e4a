package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[Jobs.concurrently]]'s failure path: the first failing task must not
  * leave a sibling's Spark job running when the call unwinds, because the
  * caller's `finally` then frees checkpoints that job is still reading (a
  * freed local checkpoint cannot be recomputed, so one failure would
  * cascade into "Checkpoint block not found" in the sibling). */
class JobsSpec extends AnyFunSuite {
  import graft.TestSpark._

  test("a failing task cancels its running sibling job before concurrently throws") {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val slow = udf { (id: Long) => Thread.sleep(20); id }
    val ck = spark.range(0, 4000, 1, 8).toDF("id").localCheckpoint()
    @volatile var siblingError: Throwable = null
    @volatile var siblingDone = false
    @volatile var blocksAtThrow = -1
    val e = intercept[IllegalStateException] {
      try Jobs.concurrently(
        () =>
          try ck.select(sum(slow(col("id")))).collect()
          catch { case t: Throwable => siblingError = t }
          finally siblingDone = true,
        () => {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
            Thread.sleep(10)
          throw new IllegalStateException("planted task failure")
        })
      finally {
        // the caller's view at unwind time, before its own cleanup
        blocksAtThrow = sc.getPersistentRDDs.size
        assert(siblingDone, "concurrently unwound while a sibling task still ran")
        assert(sc.statusTracker.getActiveJobIds().isEmpty,
          "concurrently unwound while a sibling's Spark job still ran")
        Checkpoints.free(ck)
      }
    }
    assert(e.getMessage == "planted task failure")
    assert(blocksAtThrow == 1, "the sibling's checkpoint was freed under it")
    // the sibling was cancelled, not starved of its checkpoint blocks
    assert(siblingError != null, "the sibling job ran to completion instead of being cancelled")
    assert(!String.valueOf(siblingError.getMessage).contains("Checkpoint block"),
      s"sibling failed on a freed checkpoint: $siblingError")
    assert(sc.getPersistentRDDs.isEmpty)
  }
}
