package graft.tools

import org.apache.spark.sql.functions._

/** Scratch phase-by-phase timer for the q_op_index_fsck/q_op_index_repair
  * fixture (the repo's two heaviest queries): separates the five-family
  * fixture BUILD from each family's repair and the post-fsck, so an
  * optimization round can see which phase moved.
  * Usage: runMain graft.tools.RepairProbe [sfDir] */
object RepairProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.local(32, "repair-probe")
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Tables.register(spark, sfDir)
    graft.engine.Tables.all.foreach(t => spark.table(t).limit(1).count())
    def t(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      val s = String.valueOf(r).take(40)
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s ($s)")
    }
    val base = s"/tmp/graft_repair_probe/${java.util.UUID.randomUUID().toString.take(8)}"
    val docs = graft.engine.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))

    // ---- fixture build, family by family (mirrors plantCorruptedFamilies)
    t("bm25-build")(graft.operators.Retrieval.writeBm25Index(
      docs.filter(col("doc_id") < 200), "doc_id", "text", s"$base/bm25", termShards = 4))
    t("bm25-plants")(graft.queries.OperatorQueries.plantUncommittedBm25Append(
      spark, docs.filter(col("doc_id").between(200, 219)), s"$base/bm25"))
    t("mh-build")(graft.operators.Dedup.writeMinhashIndex(
      docs.filter(col("doc_id") < 150), "doc_id", "text", s"$base/mh"))
    def sigsOf(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashSignature(d, "doc_id", "text")
    t("mh-plants") {
      sigsOf(docs.filter(col("doc_id").between(150, 159)))
        .write.mode("append").parquet(s"$base/mh/sigs")
      graft.operators.Dedup.minhashBands(
          sigsOf(docs.filter(col("doc_id").between(160, 164))), "doc_id")
        .write.mode("append").parquet(s"$base/mh/bands")
      graft.operators.Dedup.minhashBands(
          sigsOf(docs.filter(col("doc_id") < 5)), "doc_id")
        .write.mode("append").parquet(s"$base/mh/bands")
    }
    val liCap = graft.engine.Tables.table(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") < 30000)
      .select("l_orderkey", "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice")
    def slice(pred: org.apache.spark.sql.Column) =
      liCap.filter(pred).drop("l_orderkey")
    val aBase = slice(col("l_orderkey") % 4 === 1 || col("l_orderkey") % 4 === 2)
    val b1 = slice(col("l_orderkey") % 4 === 3)
    val b2 = slice(col("l_orderkey") % 8 === 0)
    val b3 = slice(col("l_orderkey") % 8 === 4)
    val gc = Seq("l_returnflag", "l_linestatus")
    val vc = Seq("l_quantity", "l_extendedprice")
    t("agg-build") {
      graft.operators.AggState.writeAggState(aBase, s"$base/agg", gc, vc)
      graft.operators.AggState.foldAggState(b1, s"$base/agg", "b1", gc, vc)
      graft.operators.AggState.foldAggState(b2, s"$base/agg", "b2", gc, vc)
      graft.operators.AggState.retractAggState(spark, s"$base/agg", "b2", gc, vc)
      Seq((b2, "b2"), (b3, "zz_orphan"), (b1, "b1")).foreach { case (b, tag) =>
        graft.operators.AggState.partials(b, gc, vc, tag)
          .write.mode("append").parquet(s"$base/agg/state")
      }
    }
    val cust = graft.engine.Tables.table(spark, sfDir, "customer").select(col("c_custkey"))
    var planted: org.apache.spark.sql.DataFrame = null
    t("cluster-plant") {
      val stored = graft.operators.Dedup.duplicateClusters(
        cust.filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey").as("d1"), (col("c_custkey") + 1000000L).as("d2")))
      planted = stored
        .unionAll(cust.filter(col("c_custkey") % 10 === 1)
          .select((col("c_custkey") + 2000000L).as("doc_id"),
            (col("c_custkey") + 3000000L).as("keeper")))
        .unionAll(cust.filter(col("c_custkey") % 10 === 7)
          .select((col("c_custkey") + 4000000L).as("doc_id"), lit(7L).as("keeper")))
        .unionAll(cust.filter(col("c_custkey") % 20 === 0)
          .select((col("c_custkey") + 5000000L).as("doc_id"),
            (col("c_custkey") + 1000000L).as("keeper")))
        .unionAll(stored.filter(col("keeper") % 30 === 0))
      planted.count()
    }
    t("ivf-build")(graft.operators.Similarity.writeIvfPqResidualIndex(
      graft.engine.Tables.table(spark, sfDir, "embeddings").filter(col("vec_id") < 300),
      "vec_id", "embedding", s"$base/ivf"))
    t("ivf-plants") {
      val codes0 = spark.read.parquet(s"$base/ivf/codes").localCheckpoint()
      codes0.filter(col("__cid") % 50 === 0 && col("s") < 3)
        .withColumn("__cid", col("__cid") + 1000000L)
        .write.mode("append").parquet(s"$base/ivf/codes")
      codes0.filter(col("__cid") % 50 === 1)
        .withColumn("__cid", col("__cid") + 2000000L)
        .withColumn("cell", col("cell") - col("cell") + lit(999999))
        .write.mode("append").parquet(s"$base/ivf/codes")
      codes0.filter(col("__cid") % 50 === 2)
        .write.mode("append").parquet(s"$base/ivf/codes")
      graft.operators.Checkpoints.free(codes0)
    }

    // ---- repairs
    t("repair-bm25")(graft.operators.IndexRepair.repairBm25Index(
      spark, s"$base/bm25").count())
    t("mh-inconsistent") {
      val mhBad = graft.operators.IndexRepair.minhashInconsistentIds(
        spark, s"$base/mh").localCheckpoint()
      mhBad.count()
    }
    t("repair-mh")(graft.operators.IndexRepair.repairMinhashIndex(spark, s"$base/mh").count())
    t("mh-reappend")(graft.operators.Dedup.appendMinhashIndex(
      docs.filter(col("doc_id").between(150, 164)), "doc_id", "text", s"$base/mh"))
    t("repair-agg")(graft.operators.IndexRepair.repairAggState(
      spark, s"$base/agg", gc, vc).count())
    t("repair-ivf")(graft.operators.IndexRepair.repairIvfPqIndex(spark, s"$base/ivf").count())
    t("repair-cluster")(graft.operators.IndexRepair.repairClusterAssignment(planted).count())

    // ---- post-fsck
    t("post-fsck") {
      graft.operators.IndexFsck.checkMinhash(spark, s"$base/mh")
        .unionAll(graft.operators.IndexFsck.checkBm25(spark, s"$base/bm25"))
        .unionAll(graft.operators.IndexFsck.checkAggState(spark, s"$base/agg"))
        .unionAll(graft.operators.IndexFsck.checkIvfPq(spark, s"$base/ivf"))
        .count()
    }

    // ---- the shipping shape after VERDICT r13 #3: same families, plants
    // and repairs submitted as CONCURRENT jobs (guide §2.6) — compare these
    // two lines against the sum of the sequential per-family phases above
    // to see the scheduling-tail overlap.
    val base2 = s"/tmp/graft_repair_probe/${java.util.UUID.randomUUID().toString.take(8)}"
    var planted2: org.apache.spark.sql.DataFrame = null
    t("plant-all-parallel") {
      planted2 = graft.queries.OperatorQueries.plantCorruptedFamilies(spark, sfDir, base2)
    }
    t("repairs-all-parallel") {
      graft.queries.OperatorQueries.concurrently(
        () => graft.operators.IndexRepair.repairBm25Index(
          spark, s"$base2/bm25").count(),
        () => {
          val mhBad = graft.operators.IndexRepair.minhashInconsistentIds(
            spark, s"$base2/mh").localCheckpoint()
          graft.operators.IndexRepair.repairMinhashIndex(spark, s"$base2/mh").count()
          graft.operators.Dedup.appendMinhashIndex(
            docs.join(mhBad, Seq("doc_id"), "left_semi"), "doc_id", "text", s"$base2/mh")
          graft.operators.Checkpoints.free(mhBad)
        },
        () => graft.operators.IndexRepair.repairAggState(spark, s"$base2/agg", gc, vc).count(),
        () => graft.operators.IndexRepair.repairIvfPqIndex(spark, s"$base2/ivf").count(),
        () => graft.operators.IndexRepair.repairClusterAssignment(planted2)
          .localCheckpoint().count())
    }
    spark.stop()
  }
}
