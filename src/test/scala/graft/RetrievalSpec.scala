package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{IndexFsck, IndexRepair, Retrieval, TextAnalysis, VersionedStore}

/** The persisted BM25 index lifecycle (Retrieval): query == bm25Lite
  * bit-identity, append idempotence + append == rebuild, tokenizer-tag
  * validation, compaction, and the crash shapes its store can still hold
  * (an orphan segment, a `.tmp-` manifest) after a crashed append,
  * compaction or rebuild: invisible to reads, appends and compaction,
  * reported by fsck, cleared by repair, and a re-run reaches the content
  * of a run with no fault. */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val docs = graft.engine.Tables
    .table(spark, sfDir, "documents")
    .filter(col("doc_id") < 200).select("doc_id", "text")

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def topTerms(idx: Retrieval.Bm25Index, n: Int = 3) =
    idx.postings.groupBy("term").agg(sum($"tf").as("n"))
      .orderBy($"n".desc, $"term").limit(n).select("term")

  // the crash debris of an append that died before its commit: the
  // batch's postings segment, and a half-written `.tmp-` manifest
  private def plantUncommittedAppend(batch: org.apache.spark.sql.DataFrame, dir: String): Unit =
    graft.queries.OperatorQueries.plantUncommittedBm25Append(spark, batch, dir)

  private def orphanSegment(df: org.apache.spark.sql.DataFrame, dir: String): Unit =
    df.write.parquet(s"$dir/_segments/orphan-${java.util.UUID.randomUUID().toString.take(8)}")

  private def fsck(dir: String): Map[String, Long] =
    IndexFsck.checkBm25(spark, dir).collect()
      .map(r => r.getAs[String]("check") -> r.getAs[Long]("violations")).toMap

  // the stored content of both tables, order-free
  private def content(idx: Retrieval.Bm25Index): (Seq[String], Seq[String]) =
    (idx.postings.select("term", "doc_id", "tf").collect().map(_.toString).toSeq.sorted,
      idx.doclens.select("doc_id", "dl").collect().map(_.toString).toSeq.sorted)

  private def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.orderBy($"score_ppm".desc, $"doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_ppm"))).toSeq

  test("index query is bit-identical to bm25Lite over the same corpus") {
    val dir = scratch("bm25_idx")
    val idx = Retrieval.writeBm25Index(docs, "doc_id", "text", dir, termShards = 4)
    val qterms = topTerms(idx)
    val viaIndex = scores(Retrieval.queryBm25Index(idx, qterms))
    val viaText = scores(TextAnalysis.bm25Lite(docs, "doc_id", "text", qterms))
    assert(viaIndex.nonEmpty && viaIndex == viaText)
    // and the stored layout carries the meta tag
    assert(idx.meta == Retrieval.Bm25Meta(Retrieval.TokenizerWs1))
  }

  test("append: committed replay is a no-op and appended == rebuilt") {
    val dir = scratch("bm25_app")
    val corpus = docs.filter($"doc_id" < 150)
    val batch = docs.filter($"doc_id" >= 150)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, termShards = 4)
    val once = Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    val nPost = once.postings.count()
    val nLens = once.doclens.count()
    val versions = VersionedStore.versionNumbers(spark, dir)
    val twice = Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    assert(VersionedStore.versionNumbers(spark, dir) == versions,
      "a replayed append must commit nothing")
    assert(twice.postings.count() == nPost, "replayed append grew postings")
    assert(twice.doclens.count() == nLens, "replayed append grew doclens")
    // appended index answers exactly like one built over corpus UNION batch
    val rebuilt = Retrieval.writeBm25Index(corpus.unionAll(batch),
      "doc_id", "text", scratch("bm25_reb"), termShards = 4)
    val qterms = topTerms(twice)
    assert(scores(Retrieval.queryBm25Index(twice, qterms)) ==
      scores(Retrieval.queryBm25Index(rebuilt, qterms)))
  }

  test("tokenizer tag mismatch fails loudly on query and append") {
    val dir = scratch("bm25_meta")
    Retrieval.writeBm25Index(docs, "doc_id", "text", dir, termShards = 2)
    // simulate an index stamped by a future tokenizer version
    Retrieval.Bm25Meta.write(spark, dir, Retrieval.Bm25Meta("bpe-v2"))
    val tampered = Retrieval.Bm25Index.read(spark, dir)
    val eq = intercept[IllegalArgumentException] {
      Retrieval.queryBm25Index(tampered, Seq("the").toDF("term"))
    }
    assert(eq.getMessage.contains("bpe-v2") && eq.getMessage.contains("ws1"))
    val ea = intercept[IllegalArgumentException] {
      Retrieval.appendBm25Index(docs.limit(1), "doc_id", "text", dir)
    }
    assert(ea.getMessage.contains("tokenizer mismatch"))
  }

  test("compact drops tombstoned docs and collapses retried-append duplicates") {
    val dir = scratch("bm25_cmp")
    val corpus = docs.filter($"doc_id" < 150)
    val batch = docs.filter($"doc_id" >= 150)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, termShards = 4)
    // an append that crashed before its commit, then its retry: the
    // crashed attempt's postings segment stays an invisible orphan
    plantUncommittedAppend(batch, dir)
    Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    val drops = corpus.filter($"doc_id" % 10 === 3).select("doc_id")
    val compacted = Retrieval.compactBm25Index(spark, dir,
      dropIds = Some(drops), termShards = 4)
    // dropped ids gone from both tables; no (term, id) duplicates remain
    assert(compacted.doclens.join(drops, Seq("doc_id")).count() == 0)
    assert(compacted.postings.join(drops, Seq("doc_id")).count() == 0)
    assert(compacted.postings.groupBy("term", "doc_id").count()
      .filter($"count" > 1).count() == 0)
    // and the compacted index equals a rebuild over the surviving corpus
    val survivors = corpus.filter($"doc_id" % 10 =!= 3).unionAll(batch)
    val rebuilt = Retrieval.writeBm25Index(survivors, "doc_id", "text",
      scratch("bm25_cmp_reb"), termShards = 4)
    val qterms = topTerms(compacted)
    assert(scores(Retrieval.queryBm25Index(compacted, qterms)) ==
      scores(Retrieval.queryBm25Index(rebuilt, qterms)))
    // meta tag survives the rewrite
    assert(compacted.meta == Retrieval.Bm25Meta(Retrieval.TokenizerWs1))
  }

  test("indexed stream loop: replay appends nothing and re-emits the same scores") {
    val base = scratch("bm25_loop")
    val corpus = docs.filter($"doc_id" < 150)
    val batch = docs.filter($"doc_id" >= 150)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val built = Retrieval.writeBm25Index(corpus, "doc_id", "text", s"$base/idx",
      termShards = 4)
    val qterms = topTerms(built, 2).collect().map(_.getString(0)).toSeq
    graft.streaming.StreamingRetrieval.indexedBm25Batch(
      batch, s"$base/idx", s"$base/scores", qterms)
    val after1 = Retrieval.Bm25Index.read(spark, s"$base/idx")
    val nPost = after1.postings.count()
    val rows1 = spark.read.parquet(s"$base/scores")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows1.nonEmpty)
    // at-least-once replay of the committed trigger
    graft.streaming.StreamingRetrieval.indexedBm25Batch(
      batch, s"$base/idx", s"$base/scores", qterms)
    val after2 = Retrieval.Bm25Index.read(spark, s"$base/idx")
    assert(after2.postings.count() == nPost, "replayed trigger grew the index")
    val rows2 = spark.read.parquet(s"$base/scores")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // exactly the original rows, twice — dedupe on (n_docs_at, doc_id)
    // restores the clean sink
    assert(rows2 == (rows1 ++ rows1).sortBy(_.toString))
    // scores tag the POST-fold index version
    assert(rows1.forall(_.head == after1.doclens.count()))
    assert(after1.nDocs == after1.doclens.count())
  }

  test("uncommitted append debris is invisible; fsck reports it, repair clears it") {
    val dir = scratch("bm25_debris")
    val corpus = docs.filter($"doc_id" < 150)
    val batch = docs.filter($"doc_id" >= 150)
      .select(($"doc_id" + 5000L).as("doc_id"), $"text")
    val built = Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, termShards = 4)
    val qterms = topTerms(built).collect().map(_.getString(0)).toSeq.toDF("term")
    val before = scores(Retrieval.queryBm25Index(built, qterms))
    assert(before.nonEmpty)
    plantUncommittedAppend(batch, dir)
    // reads serve the committed version, untouched by the debris
    val torn = Retrieval.Bm25Index.read(spark, dir)
    assert(torn.postings.filter($"doc_id" >= 5000L).count() == 0)
    assert(scores(Retrieval.queryBm25Index(torn, qterms)) == before)
    assert(fsck(dir)("orphan_segments") == 2L)
    // the retry appends the batch exactly once and scores like a rebuild
    val retried = Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    assert(retried.postings.groupBy("term", "doc_id").count()
      .filter($"count" > 1).count() == 0, "the retry duplicated postings")
    val rebuilt = Retrieval.writeBm25Index(corpus.unionAll(batch),
      "doc_id", "text", scratch("bm25_debris_reb"), termShards = 4)
    assert(scores(Retrieval.queryBm25Index(retried, qterms)) ==
      scores(Retrieval.queryBm25Index(rebuilt, qterms)))
    // repair vacuums the debris away; content equals a fault-free run's
    val rep = IndexRepair.repairBm25Index(spark, dir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rep("vacuumed_segments") == 1L)
    assert(fsck(dir).values.forall(_ == 0L), s"repair left findings: ${fsck(dir)}")
    assert(new java.io.File(s"$dir/_manifests").list().forall(!_.startsWith(".tmp-")))
    val clean = scratch("bm25_debris_clean")
    Retrieval.writeBm25Index(corpus, "doc_id", "text", clean, termShards = 4)
    assert(content(Retrieval.Bm25Index.read(spark, dir)) ==
      content(Retrieval.appendBm25Index(batch, "doc_id", "text", clean)))
  }

  test("interrupted compaction: old version serves, appends proceed, re-run matches") {
    val dir = scratch("bm25_cint")
    val corpus = docs.filter($"doc_id" < 150)
    val batch = docs.filter($"doc_id" >= 150)
    val drops = corpus.filter($"doc_id" % 7 === 2).select("doc_id")
    val built = Retrieval.writeBm25Index(corpus, "doc_id", "text", dir, termShards = 4)
    val qterms = topTerms(built).collect().map(_.getString(0)).toSeq.toDF("term")
    val before = scores(Retrieval.queryBm25Index(built, qterms))
    // the compaction wrote both rewritten tables, then died before its
    // commit (the manifest never left its .tmp- name)
    orphanSegment(built.doclens.join(drops, Seq("doc_id"), "left_anti"), dir)
    orphanSegment(built.postings.join(drops, Seq("doc_id"), "left_anti"), dir)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_manifests/.tmp-dead"),
      "{\"version\":2".getBytes("UTF-8"))
    assert(scores(Retrieval.queryBm25Index(Retrieval.Bm25Index.read(spark, dir), qterms)) == before)
    assert(fsck(dir)("orphan_segments") == 3L)
    // appends are not blocked, and see the pre-compaction index
    val appended = Retrieval.appendBm25Index(batch, "doc_id", "text", dir)
    assert(appended.nDocs == corpus.count() + batch.count())
    // the re-run compacts and reclaims the debris
    val compacted = Retrieval.compactBm25Index(spark, dir, dropIds = Some(drops),
      termShards = 4)
    assert(fsck(dir).values.forall(_ == 0L), s"compaction left findings: ${fsck(dir)}")
    val sib = scratch("bm25_cint_sib")
    Retrieval.writeBm25Index(corpus, "doc_id", "text", sib, termShards = 4)
    Retrieval.appendBm25Index(batch, "doc_id", "text", sib)
    val want = Retrieval.compactBm25Index(spark, sib, dropIds = Some(drops), termShards = 4)
    assert(content(compacted) == content(want))
    assert(scores(Retrieval.queryBm25Index(compacted, qterms)) ==
      scores(Retrieval.queryBm25Index(want, qterms)))
  }

  test("crashed rebuild in place: previous build serves; re-run equals a fresh build") {
    val dir = scratch("bm25_reb_crash")
    val first = docs.filter($"doc_id" < 120)
    val second = docs.filter($"doc_id" >= 60)
    val built = Retrieval.writeBm25Index(first, "doc_id", "text", dir, termShards = 2)
    val qterms = topTerms(built).collect().map(_.getString(0)).toSeq.toDF("term")
    val before = scores(Retrieval.queryBm25Index(built, qterms))
    // the rebuild over `second` wrote its postings, then died
    plantUncommittedAppend(second, dir)
    val mid = Retrieval.Bm25Index.read(spark, dir)
    assert(mid.nDocs == first.count())
    assert(scores(Retrieval.queryBm25Index(mid, qterms)) == before)
    // the re-run: one rewrite of both tables, debris reclaimed
    val rebuilt = Retrieval.writeBm25Index(second, "doc_id", "text", dir, termShards = 2)
    assert(VersionedStore.versionNumbers(spark, dir) == Seq(2L))
    assert(fsck(dir).values.forall(_ == 0L), s"rebuild left findings: ${fsck(dir)}")
    val fresh = Retrieval.writeBm25Index(second, "doc_id", "text",
      scratch("bm25_reb_fresh"), termShards = 2)
    assert(content(rebuilt) == content(fresh))
    assert(scores(Retrieval.queryBm25Index(rebuilt, qterms)) ==
      scores(Retrieval.queryBm25Index(fresh, qterms)))
  }
}
