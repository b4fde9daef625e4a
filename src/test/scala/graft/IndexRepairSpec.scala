package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexFsck, IndexRepair, Retrieval, Similarity}

/** IndexRepair — the apply mode of IndexFsck. The registry query
  * q_op_index_repair oracle-gates the full planted-corruption loop at both
  * scale factors; this spec pins the API-level contracts the query shape
  * can't isolate: a repair on a CLEAN index is a no-op (reports all zeros,
  * membership unchanged — an over-eager repair that drops healthy rows is
  * worse than no repair), the drop-set functions name exactly the partial
  * ids, and the cluster re-solve preserves singletons and connectivity. */
class IndexRepairSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private lazy val docs = graft.engine.Tables.table(spark, sfDir, "documents")
    .filter(col("doc_id") < 120).select("doc_id", "text")

  private def reportMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(1) -> r.getLong(2)).toMap

  test("repair of a clean BM25 index is a no-op: zero report, membership intact") {
    val dir = scratch("rep_bm25")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, termShards = 4)
    val before = Retrieval.Bm25Index.read(spark, dir).postings.count()
    val rep = reportMap(IndexRepair.repairBm25Index(spark, dir))
    assert(rep.values.forall(_ == 0L), s"clean repair reported work: $rep")
    assert(Retrieval.Bm25Index.read(spark, dir).postings.count() == before)
    assert(IndexFsck.checkBm25(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
  }

  test("minhashInconsistentIds names exactly the partial ids; repair + re-append restores membership") {
    val dir = scratch("rep_mh")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", dir)
    assert(IndexRepair.minhashInconsistentIds(spark, dir).isEmpty)
    // torn append: sigs landed, bands never did
    val torn = graft.engine.Tables.table(spark, sfDir, "documents")
      .filter(col("doc_id").between(120, 129)).select("doc_id", "text")
    Dedup.minhashSignature(torn, "doc_id", "text")
      .write.mode("append").parquet(s"$dir/sigs")
    val tornIds = torn.select("doc_id").as[Long].collect().sorted.toSeq
    val nBase = docs.count()
    val bad = IndexRepair.minhashInconsistentIds(spark, dir)
      .as[Long].collect().sorted
    assert(bad.toSeq == tornIds, s"drop set was ${bad.toSeq}")
    val rep = reportMap(IndexRepair.repairMinhashIndex(spark, dir))
    assert(rep("dropped_ids_for_reappend") == tornIds.size.toLong)
    assert(rep("collapsed_duplicate_band_rows") == 0L)
    // the index is consistent but incomplete until the re-append
    assert(IndexFsck.checkMinhash(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    assert(spark.read.parquet(s"$dir/sigs").count() == nBase)
    Dedup.appendMinhashIndex(torn, "doc_id", "text", dir)
    assert(spark.read.parquet(s"$dir/sigs").count() == nBase + tornIds.size)
    assert(IndexFsck.checkMinhash(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
  }

  test("ivfPqInconsistentIds flags ids whose every row is out-of-range (count-0 shape)") {
    val dir = scratch("rep_ivf")
    val vecs = graft.engine.Tables.table(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 200)
    Similarity.writeIvfPqResidualIndex(vecs, "vec_id", "embedding", dir)
    assert(IndexRepair.ivfPqInconsistentIds(spark, dir).isEmpty)
    // mixed-build plant: one id's full row set against a vanished cell
    val someId = spark.read.parquet(s"$dir/codes")
      .agg(min("__cid")).collect().head.getLong(0)
    spark.read.parquet(s"$dir/codes").filter(col("__cid") === someId)
      .withColumn("__cid", lit(900001L))
      .withColumn("cell", col("cell") - col("cell") + lit(424242))
      .write.mode("append").parquet(s"$dir/codes")
    val bad = IndexRepair.ivfPqInconsistentIds(spark, dir).as[Long].collect()
    assert(bad.toSeq == Seq(900001L), s"drop set was ${bad.toSeq}")
    val rep = reportMap(IndexRepair.repairIvfPqIndex(spark, dir))
    assert(rep("dropped_out_of_range_rows") > 0L)
    assert(rep("dropped_ids_for_reappend") == 1L)
    assert(IndexFsck.checkIvfPq(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    // the healthy ids survived untouched
    assert(spark.read.parquet(s"$dir/codes").select("__cid").distinct().count()
      == vecs.count())
  }

  test("BM25 repair reports the vacuumed debris; a second repair is a no-op") {
    val dir = scratch("rep_bm25_debris")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, termShards = 4)
    val before = Retrieval.Bm25Index.read(spark, dir).postings.count()
    // two appends that crashed before their commits
    Seq((120, 124), (125, 129)).foreach { case (lo, hi) =>
      graft.queries.OperatorQueries.plantUncommittedBm25Append(spark,
        graft.engine.Tables.table(spark, sfDir, "documents")
          .filter(col("doc_id").between(lo, hi)), dir)
    }
    val rep = reportMap(IndexRepair.repairBm25Index(spark, dir))
    assert(rep == Map("vacuumed_segments" -> 2L, "vacuumed_manifests" -> 0L))
    assert(IndexFsck.checkBm25(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    assert(Retrieval.Bm25Index.read(spark, dir).postings.count() == before)
    assert(reportMap(IndexRepair.repairBm25Index(spark, dir)).values.forall(_ == 0L))
  }

  test("repairClusterAssignment preserves singletons and never invents connectivity") {
    val stored = Seq(
      (5L, 9L),   // keeper above doc: must relabel to min 5
      (9L, 9L),
      (30L, 30L), // pure singleton: must round-trip
      (41L, 40L), (42L, 41L) // torn relabel chain: all -> 40
    ).toDF("doc_id", "keeper")
    val repaired = IndexRepair.repairClusterAssignment(stored)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(repaired == Seq((5L, 5L), (9L, 5L), (30L, 30L),
      (40L, 40L), (41L, 40L), (42L, 40L)))
    assert(IndexFsck.checkClusterAssignment(
      IndexRepair.repairClusterAssignment(stored))
      .agg(sum("violations")).collect().head.getLong(0) == 0L)
  }
}
