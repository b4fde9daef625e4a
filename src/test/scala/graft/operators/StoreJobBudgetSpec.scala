package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budgets of the persisted-state paths, counted with a listener:
  * schemas and segment statistics come from parquet footers on the
  * driver, so building a read's DataFrame runs no Spark job, a store
  * commit runs one write job per non-empty table and nothing else, and a
  * replayed `appendOnce` or aggregate-state fold runs none. At the data
  * sizes these paths serve, every extra job is a fixed driver round trip,
  * so a budget that grows is a regression even when results stay equal. */
class StoreJobBudgetSpec extends AnyFunSuite {
  import graft.TestSpark._
  import spark.implicits._

  private def scratch(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rows(a: Int, b: Int): DataFrame =
    (a until b).map(i => (i.toLong, s"row $i")).toDF("id", "text")

  /** Jobs `body` starts, its own and those of any thread it spawns (they
    * inherit the job group), whatever else runs in the session. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"budget-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job budget")
    try {
      val out = body
      org.apache.spark.TestListenerBus.drain(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def jobs(body: => Any): Int = jobsOf(body)._2

  test("building a persisted read's DataFrame runs no job") {
    val vs = scratch("jb_vs")
    VersionedStore.create(spark, vs, Map("t" -> rows(0, 40)))
    VersionedStore.append(spark, vs, Map("t" -> rows(40, 60)))
    assert(jobs(VersionedStore.snapshot(spark, vs).table("t")) == 0)
    assert(jobs(VersionedStore.snapshot(spark, vs).tableRange("t", "id", 10, 20)) == 0)

    val docs = graft.engine.Tables.table(spark, graft.TestSpark.sfDir, "documents")
      .filter(col("doc_id") < 60).select("doc_id", "text")
    val bm = scratch("jb_bm25")
    Retrieval.writeBm25Index(docs, "doc_id", "text", bm, termShards = 2)
    val (idx, n) = jobsOf(Retrieval.Bm25Index.read(spark, bm))
    assert(n == 0)
    assert(idx.nDocs == 60L)

    val agg = scratch("jb_agg")
    val li = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("k", "g", "v")
    AggState.writeAggState(li, agg, Seq("g"), Seq("v"))
    AggState.foldAggState(li, agg, "b1", Seq("g"), Seq("v"))
    assert(jobs(AggState.readAggState(spark, agg, Seq("g"), Seq("v"))) == 0)
  }

  test("a create, append or rewrite of k non-empty tables runs exactly k jobs") {
    val dir = scratch("jb_commit")
    assert(jobs(VersionedStore.create(spark, dir,
      Map("a" -> rows(0, 30), "b" -> rows(0, 30).select("id")))) == 2)
    assert(jobs(VersionedStore.append(spark, dir,
      Map("a" -> rows(30, 50), "b" -> rows(30, 50).select("id")))) == 2)
    assert(jobs(VersionedStore.append(spark, dir, Map("a" -> rows(50, 55)))) == 1)
    assert(jobs(VersionedStore.rewrite(spark, dir) { cur =>
      Map("a" -> cur("a").filter(col("id") % 2 === 0),
        "b" -> cur("b").filter(col("id") % 2 === 0))
    }) == 2)
    val snap = VersionedStore.snapshot(spark, dir)
    assert(snap.rowCount("a") == 28L && snap.rowCount("b") == 25L)
  }

  test("a replayed appendOnce runs no job") {
    val dir = scratch("jb_once")
    VersionedStore.create(spark, dir, Map("t" -> rows(0, 10)))
    assert(jobs(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 20)), "b0")) == 1)
    val (v, n) = jobsOf(VersionedStore.appendOnce(spark, dir, Map("t" -> rows(10, 20)), "b0"))
    assert(n == 0 && v == 2L)
  }

  test("the aggregate state: a replayed fold runs no job, a new one only its segment writes") {
    val dir = scratch("jb_agg_ops")
    val li = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("k", "g", "v")
    val (g, v) = (Seq("g"), Seq("v"))
    AggState.writeAggState(li, dir, g, v)
    // the state segment (its partial aggregate's shuffle stage, then the
    // write) and the one-row tags segment; the tag lookup reads on the
    // driver
    assert(jobs(AggState.foldAggState(li, dir, "b1", g, v)) == 3)
    assert(jobs(AggState.foldAggState(li, dir, "b1", g, v)) == 0)
    // compaction: the merge's shuffle stage and write, and the tags
    // rewrite; retraction: two filtered rewrites
    assert(jobs(AggState.compactAggState(spark, dir, g, v)) == 3)
    AggState.foldAggState(li, dir, "b2", g, v)
    assert(jobs(AggState.retractAggState(spark, dir, "b2", g, v)) == 2)
    assert(jobs(AggState.readAggState(spark, dir, g, v)) == 0)
  }

  test("the IVF-PQ index: a read runs no job, a replayed append commits nothing, the build's jobs are pinned") {
    val dir = scratch("jb_ivf")
    val vecs = graft.engine.Tables.table(spark, graft.TestSpark.sfDir, "embeddings")
      .select("vec_id", "embedding")
    val (_, build) = jobsOf(Similarity.writeIvfPqResidualIndex(
      vecs.filter(col("vec_id") < 40), "vec_id", "embedding", dir))
    // four stage writes with their aggregates' shuffle stages (13 at the
    // staged writer this replaced, counted the same way)
    assert(build == 13)
    assert(jobs(Similarity.IvfPqResidualIndex.read(spark, dir)) == 0)
    val batch = vecs.filter(col("vec_id").between(40, 49))
    Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
    val versions = VersionedStore.versionNumbers(spark, dir)
    Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", dir)
    assert(VersionedStore.versionNumbers(spark, dir) == versions)
  }
}
