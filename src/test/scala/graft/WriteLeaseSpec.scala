package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AggState, Dedup, Retrieval}

/** The write-lease (IndexFiles.withWriteLease): the persisted families'
  * "single writer, quiesce before maintenance" contract as a DETECTABLE
  * error instead of documentation — a second concurrent writer throws and
  * writes nothing (the state equals the first writer's result), a crashed
  * writer's stale lease is taken over after the TTL, and a writer that
  * THROWS releases its lease on the way out. */
class WriteLeaseSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def leaseFile(dir: String) = new java.io.File(s"$dir/_write_lease.json")

  // the on-disk state a concurrent (or crashed) writer leaves: a lease held
  // by a DIFFERENT owner, aged as requested
  private def plantForeignLease(dir: String, ageMs: Long): Unit =
    java.nio.file.Files.write(leaseFile(dir).toPath,
      (s"""{"owner":"other-writer","epochMs":${System.currentTimeMillis() - ageMs},""" +
        s""""what":"simulated concurrent writer"}""").getBytes("UTF-8"))

  private lazy val docs = graft.engine.Tables.table(spark, sfDir, "documents")
    .filter(col("doc_id") < 120).select("doc_id", "text")
  private lazy val batch = graft.engine.Tables.table(spark, sfDir, "documents")
    .filter(col("doc_id").between(120, 139))
    .select((col("doc_id") + 9000L).as("doc_id"), col("text"))

  test("a fresh foreign lease blocks every writer; state equals the first writer's result") {
    val dir = scratch("lease_mh")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", dir)
    val sigsBefore = spark.read.parquet(s"$dir/sigs").count()
    plantForeignLease(dir, ageMs = 0) // writer 1 is mid-write
    // append path refuses and writes nothing
    val e = intercept[IllegalArgumentException](
      Dedup.appendMinhashIndex(batch, "doc_id", "text", dir))
    assert(e.getMessage.contains("concurrent writer detected"))
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore,
      "a blocked append must write nothing")
    // compaction path (stagedSwap — shared by the MinHash and cluster
    // families) refuses too
    intercept[IllegalArgumentException](
      Dedup.compactMinhashIndex(spark, dir, Some(docs.limit(1).select("doc_id"))))
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore)
    // a failed acquisition must NOT delete the holder's lease
    assert(leaseFile(dir).exists(), "the blocked writer deleted the holder's lease")
    // writer 1 finishes (lease released) -> the retry proceeds
    assert(leaseFile(dir).delete())
    Dedup.appendMinhashIndex(batch, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore + batch.count())
    assert(!leaseFile(dir).exists(), "a completed writer must release its lease")
  }

  test("stale lease (crashed writer) is taken over with a note; TTL boundary respected") {
    val dir = scratch("lease_stale")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", dir)
    val sigsBefore = spark.read.parquet(s"$dir/sigs").count()
    // a lease older than the 30-min TTL is a crashed writer: take over
    plantForeignLease(dir, ageMs = 31L * 60 * 1000)
    Dedup.appendMinhashIndex(batch, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore + batch.count())
    assert(!leaseFile(dir).exists())
    // just UNDER the TTL still blocks (conservative: a slow writer is not
    // a crashed writer)
    plantForeignLease(dir, ageMs = 29L * 60 * 1000)
    intercept[IllegalArgumentException](
      Dedup.appendMinhashIndex(batch.select((col("doc_id") + 1000L).as("doc_id"),
        col("text")), "doc_id", "text", dir))
  }

  test("a torn (unparseable) lease cannot brick the directory: mtime staleness applies") {
    val dir = scratch("lease_torn")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", dir)
    val sigsBefore = spark.read.parquet(s"$dir/sigs").count()
    // a writer that crashed between creating the lease file and writing it
    // leaves zero bytes — parsing fails, so staleness must fall back to
    // the file's mtime instead of throwing forever
    java.nio.file.Files.write(leaseFile(dir).toPath, Array.empty[Byte])
    // fresh mtime: still treated as a possibly-live writer mid-acquisition
    val e = intercept[IllegalArgumentException](
      Dedup.appendMinhashIndex(batch, "doc_id", "text", dir))
    assert(e.getMessage.contains("concurrent writer detected"))
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore)
    // aged past the TTL: taken over like any crashed writer's lease
    assert(leaseFile(dir).setLastModified(
      System.currentTimeMillis() - 31L * 60 * 1000))
    Dedup.appendMinhashIndex(batch, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/sigs").count() == sigsBefore + batch.count())
    assert(!leaseFile(dir).exists())
  }

  test("agg-state and BM25 writers share the guard; a thrown writer releases its lease") {
    // BM25 build refuses a held directory before writing anything
    val bdir = scratch("lease_bm25")
    plantForeignLease(bdir, ageMs = 0)
    intercept[IllegalArgumentException](
      Retrieval.writeBm25Index(docs, "doc_id", "text", bdir, termShards = 2))
    assert(!new java.io.File(s"$bdir/_segments").exists(),
      "a blocked build must write nothing")
    // agg-state fold refuses a held directory
    val adir = scratch("lease_agg")
    AggState.writeAggState(Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v"),
      adir, Seq("g"), Seq("v"))
    plantForeignLease(adir, ageMs = 0)
    intercept[IllegalArgumentException](AggState.foldAggState(
      Seq(("a", 3.0)).toDF("g", "v"), adir, "b1", Seq("g"), Seq("v")))
    assert(leaseFile(adir).delete())
    // a writer that THROWS inside the lease releases it: folding into a
    // directory with no state table fails (the documented loud path) and
    // must not leave the directory locked
    val edir = scratch("lease_rel")
    intercept[IllegalArgumentException](AggState.foldAggState(
      Seq(("a", 1.0)).toDF("g", "v"), edir, "b1", Seq("g"), Seq("v")))
    assert(!leaseFile(edir).exists(),
      "a thrown writer must release its lease on the way out")
  }
}
