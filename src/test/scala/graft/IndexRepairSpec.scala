package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AggState, Dedup, IndexFsck, IndexRepair, Retrieval, Similarity}

/** IndexRepair — the apply mode of IndexFsck. The registry query
  * q_op_index_repair oracle-gates the full planted-corruption loop at both
  * scale factors; this spec pins the API-level contracts the query shape
  * can't isolate: a repair on a CLEAN index is a no-op (reports all zeros,
  * membership unchanged — an over-eager repair that drops healthy rows is
  * worse than no repair), the MinHash drop-set function names exactly the
  * partial ids, a store family's repair reports the crash debris it
  * vacuumed, and the cluster re-solve preserves singletons and
  * connectivity. */
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

  test("IVF-PQ repair reports the vacuumed debris; the crashed append's retry then codes once") {
    val dir = scratch("rep_ivf")
    val vecs = graft.engine.Tables.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val corpus = vecs.filter(col("vec_id") < 200)
    val batch = vecs.filter(col("vec_id").between(200, 219))
    val idx = Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", dir)
    val before = idx.codes.count()
    // an append that crashed before its commit: invisible, reported, vacuumed
    graft.queries.OperatorQueries.plantUncommittedAppend(spark,
      idx.codes.filter(col("__cid") < 20).withColumn("__cid", col("__cid") + 200L), dir)
    assert(Similarity.IvfPqResidualIndex.read(spark, dir).codes.count() == before)
    assert(reportMap(IndexFsck.checkIvfPq(spark, dir))("orphan_segments") == 2L)
    assert(reportMap(IndexRepair.repairIvfPqIndex(spark, dir)) ==
      Map("vacuumed_segments" -> 1L, "vacuumed_manifests" -> 1L))
    assert(IndexFsck.checkIvfPq(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    assert(reportMap(IndexRepair.repairIvfPqIndex(spark, dir)).values.forall(_ == 0L))
    // the retry codes the batch once, as an append that never crashed does
    val appended = Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
    assert(appended.codes.count() == before + batch.count() * 8)
    assert(appended.codes.groupBy("__cid").count().filter(col("count") =!= 8).isEmpty)
  }

  test("BM25 repair reports the vacuumed debris; a second repair is a no-op") {
    val dir = scratch("rep_bm25_debris")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, termShards = 4)
    val before = Retrieval.Bm25Index.read(spark, dir).postings.count()
    // two appends that crashed before their commits
    Seq((120, 124), (125, 129)).foreach { case (lo, hi) =>
      graft.queries.OperatorQueries.plantUncommittedAppend(spark,
        graft.engine.Tables.table(spark, sfDir, "documents")
          .filter(col("doc_id").between(lo, hi)), dir)
    }
    val rep = reportMap(IndexRepair.repairBm25Index(spark, dir))
    assert(rep == Map("vacuumed_segments" -> 2L, "vacuumed_manifests" -> 2L))
    assert(IndexFsck.checkBm25(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    assert(Retrieval.Bm25Index.read(spark, dir).postings.count() == before)
    assert(reportMap(IndexRepair.repairBm25Index(spark, dir)).values.forall(_ == 0L))
  }

  test("agg-state repair reports the vacuumed debris; the crashed fold's retry then counts once") {
    val dir = scratch("rep_agg")
    val li = graft.engine.Tables.table(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
    val (g, v) = (Seq("l_returnflag"), Seq("l_quantity"))
    val base = li.filter(col("l_orderkey") % 2 === 0).drop("l_orderkey")
    val batch = li.filter(col("l_orderkey") % 2 === 1).drop("l_orderkey")
    AggState.writeAggState(base, dir, g, v)
    def read() = AggState.readAggState(spark, dir, g, v).orderBy("l_returnflag")
      .collect().map(_.toSeq).toSeq
    val before = read()
    // a fold that crashed before its commit: invisible, reported, vacuumed
    graft.queries.OperatorQueries.plantUncommittedAppend(spark,
      AggState.partials(batch, g, v, "b1"), dir)
    assert(read() == before)
    assert(reportMap(IndexFsck.checkAggState(spark, dir))("orphan_segments") == 2L)
    assert(reportMap(IndexRepair.repairAggState(spark, dir)) ==
      Map("vacuumed_segments" -> 1L, "vacuumed_manifests" -> 1L))
    assert(IndexFsck.checkAggState(spark, dir).agg(sum("violations"))
      .collect().head.getLong(0) == 0L)
    assert(reportMap(IndexRepair.repairAggState(spark, dir)).values.forall(_ == 0L))
    AggState.foldAggState(batch, dir, "b1", g, v)
    assert(read() == AggState.writeAggState(base.unionAll(batch), scratch("rep_agg_all"), g, v)
      .orderBy("l_returnflag").collect().map(_.toSeq).toSeq)
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
