package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-point sweep ([[CrashSweep]]) of the residual IVF-PQ index's
  * entry points on a 40-vector corpus; the state compared is the content
  * of its three tables, the repair [[IndexRepair.repairIvfPqIndex]]. */
class IvfPqCrashSpec extends CrashSweep[Seq[Seq[Seq[Any]]]] {
  import graft.TestSpark._

  private lazy val vecs = graft.engine.Tables.table(spark, sfDir, "embeddings")
    .select("vec_id", "embedding")
  private lazy val corpus = vecs.filter(col("vec_id") < 40)
  private lazy val batch = vecs.filter(col("vec_id").between(40, 49))

  protected def state(dir: String): Seq[Seq[Seq[Any]]] = {
    val idx = Similarity.IvfPqResidualIndex.read(spark, dir)
    Seq(idx.cent.orderBy("cid"), idx.codebook.orderBy("s", "cid"),
      idx.codes.orderBy("__cid", "s"))
      .map(_.collect().map(_.toSeq.toVector).toSeq)
  }

  protected def violations(dir: String): Long =
    IndexFsck.checkIvfPq(spark, dir).agg(sum("violations")).head().getLong(0)

  protected def repair(dir: String): Unit =
    IndexRepair.repairIvfPqIndex(spark, dir).collect()

  private def write(dir: String, df: DataFrame = corpus): Unit =
    Similarity.writeIvfPqResidualIndex(df, "vec_id", "embedding", dir)

  test("crash sweep: writeIvfPqResidualIndex into a fresh directory, every driver call") {
    sweep("ivf_write_fresh")(_ => ())(write(_))
  }

  test("crash sweep: writeIvfPqResidualIndex rebuilding in place, every driver call") {
    sweep("ivf_write_in_place")(write(_))(write(_, vecs.filter(col("vec_id").between(10, 49))))
  }

  test("crash sweep: appendIvfPqResidualIndex, every driver call") {
    sweep("ivf_append")(write(_))(
      Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", _))
  }

  test("crash sweep: compactIvfPqResidualIndex, every driver call") {
    sweep("ivf_compact") { d =>
      write(d); Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", d)
    }(Similarity.compactIvfPqResidualIndex(spark, _,
      Some(vecs.filter(col("vec_id") % 5 === 0).select("vec_id"))))
  }

  test("a failed lease create is reported as the I/O error it is, not as a lost race") {
    val dir = faulty(scratch("ivf_lease_io"))
    FaultyFileSystem.arm(1)
    val e = try intercept[java.io.IOException](write(dir))
    finally FaultyFileSystem.disarm()
    assert(FaultyFileSystem.hit.exists(_.endsWith("_write_lease.json")))
    assert(!e.getMessage.contains("race"), e.getMessage)
    assert(e.getCause.getMessage.contains("injected fault"))
    write(dir)
    assert(violations(dir) == 0L)
  }
}
