package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The LLM-curation chain over `documents` and `embeddings`. Each stage
  * writes parquet and the next stage reads it. The seed picks the ANN
  * probe set, a fixed number of vectors. The LM training source is fixed:
  * a seeded one changed which documents pass the quality gate, and with it
  * the number of verified duplicate pairs (0 to 3) and the job count of
  * the clusters stage, so the work of a pass depended on the seed. */
object Curate extends Workload {
  // the first measured pass after a single warm-up pass was still 10-15%
  // slower than later ones, with three times their spread
  val warmups = 2
  val train = "src2"
  val probeCount = 5

  @volatile private var probeIds: Seq[Long] = null
  private def probes(ctx: Ctx): DataFrame = {
    val emb = ctx.spark.table("embeddings")
    if (probeIds == null) probeIds = emb.select("vec_id")
      .orderBy(xxhash64(col("vec_id"), lit(ctx.seed)), col("vec_id")).limit(probeCount)
      .collect().map(_.getAs[Number](0).longValue).toSeq
    emb.filter(col("vec_id").isin(probeIds: _*))
  }

  def pass(ctx: Ctx, i: Int, check: Boolean): PassOut = {
    val p = new PassOut
    val s = ctx.spark
    val base = ctx.dir("curate/out")
    Files2.delete(base)
    val docs = s.table("documents")
    val emb = s.table("embeddings")
    val probes = this.probes(ctx)

    def stage(name: String)(body: => Unit): Unit = {
      val t = System.nanoTime()
      body
      val secs = (System.nanoTime() - t) / 1e9
      p.ops += secs
      p.stage(s"ops.$name", secs)
    }
    def op[T](call: String)(body: => T): T = ctx.call("ops", s"graft.operators.$call")(body)
    def write(df: DataFrame, rel: String): Unit =
      ctx.call("spark", "spark.DataFrameWriter.parquet")(df.write.parquet(s"$base/$rel"))
    def read(rel: String): DataFrame = s.read.parquet(s"$base/$rel")

    stage("quality") {
      val ids = op("TextAnalysis.gopherRules")(TextAnalysis.gopherRules(docs, "doc_id", "text"))
        .filter(col("r_word_count") === 1 && col("r_mean_word_len") === 1 &&
          col("r_symbol") === 1 && col("r_alpha") === 1)
        .select("doc_id")
      val lm = op("TextAnalysis.lmScore")(TextAnalysis.lmScore(
          docs, docs.filter(col("source") === train), "doc_id", "text"))
        .select("doc_id", "lm_ppm")
      val structural = docs.select("doc_id", "source", "text").join(ids, "doc_id").join(lm, "doc_id")
      val gated = op("TextAnalysis.qualityGate")(
        TextAnalysis.qualityGate(structural, "source", "lm_ppm", 0.5, exact = true))
      write(gated.select("doc_id", "source", "text"), "quality")
    }
    stage("exact") {
      val q = read("quality")
      val groups = op("Dedup.exact")(Dedup.exact(q, "doc_id", "text"))
      write(q.join(groups.select(col("keeper").as("doc_id")), Seq("doc_id"), "left_semi"), "exact")
    }
    stage("minhash") {
      write(op("Dedup.minhashSignature")(Dedup.minhashSignature(read("exact"), "doc_id", "text")), "sigs")
      write(op("Dedup.minhashBands")(Dedup.minhashBands(read("sigs"), "doc_id")), "bands")
    }
    stage("candidates") {
      write(op("Dedup.minhashCandidates")(Dedup.minhashCandidates(read("bands"), "doc_id")).distinct(),
        "candidates")
      // a candidate pair is a duplicate when at least half its signature
      // positions agree (the index's default minMatches = 8 of 16)
      val sig = read("sigs")
      write(read("candidates")
        .join(sig.select(col("doc_id").as("d1"), col("sig").as("s1")), "d1")
        .join(sig.select(col("doc_id").as("d2"), col("sig").as("s2")), "d2")
        .filter(expr("aggregate(sequence(0, size(s1) - 1), 0, (a, j) -> a + IF(s1[j] = s2[j], 1, 0)) >= 8"))
        .select("d1", "d2"), "pairs")
    }
    stage("clusters") {
      val clusters = op("Dedup.duplicateClusters")(Dedup.duplicateClusters(read("pairs")))
      write(op("Dedup.dropDuplicates")(Dedup.dropDuplicates(read("exact"), clusters, "doc_id")), "dedup")
    }
    stage("tfidf") {
      write(op("TextAnalysis.tfIdf")(TextAnalysis.tfIdf(read("dedup"), "doc_id", "text")), "tfidf")
    }
    stage("ann") {
      write(op("Similarity.ivfPqTopK")(Similarity.ivfPqTopK(emb, probes, "vec_id", "embedding", k = 10)),
        "ann")
    }
    stage("semdedup") {
      write(op("Similarity.semDedup")(Similarity.semDedup(emb, "vec_id", "embedding")), "semdedup")
    }

    // serving reads over the curated outputs, through the SQL front end
    val servingReads = Seq(
      s"SELECT source, COUNT(*) AS n FROM parquet.`$base/dedup` GROUP BY source ORDER BY source",
      s"SELECT term, SUM(tfidf_ppm) AS w FROM parquet.`$base/tfidf` GROUP BY term ORDER BY w DESC, term LIMIT 20",
      s"SELECT query_id, COUNT(*) AS n FROM parquet.`$base/ann` GROUP BY query_id ORDER BY query_id",
    )
    // three rounds: the first read of each query in a pass is the slowest
    // (it lists and infers the files), so with two rounds the median fell
    // in the gap between the first and the later reads
    (1 to 3).flatMap(_ => servingReads).foreach { q =>
      val t = System.nanoTime()
      val df = ctx.call("engine", "graft.engine.GraftEngine.sql")(ctx.engine.sql(q))
      ctx.call("spark", "spark.Dataset.collect")(df.collect())
      p.reads += (System.nanoTime() - t) / 1e9
    }

    p.items = Curate.docCount(ctx)
    p.digestOf = () => Digest.strings(
      Seq("quality", "exact", "sigs", "bands", "candidates", "pairs", "dedup", "tfidf", "ann", "semdedup")
        .map(t => s"$t=${Digest.table(read(t))}"))
    if (check) p.verify = () => {
      p.checks("quality_gate_count") = read("quality").count()
      p.checks("exact_keep_count") = read("exact").count()
      p.checks("train_source") = train
      val cands = read("candidates").count()
      val pairs = read("pairs").count()
      p.checks("lsh_candidates") = cands
      p.checks("lsh_pairs") = pairs
      p.checks("ops.lsh_pair_yield") = if (cands == 0) 0.0 else pairs.toDouble / cands
      val exact = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", k = 10)
        .select("query_id", "neighbor_id")
      val hits = exact.join(read("ann").select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .count()
      val truth = exact.count()
      p.checks("ops.ann_recall_at10") = if (truth == 0) 0.0 else hits.toDouble / truth
    }
    p
  }

  @volatile private var docs = -1L
  def docCount(ctx: Ctx): Long = {
    if (docs < 0) docs = ctx.spark.table("documents").count()
    docs
  }
}

object Files2 {
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(c => delete(c.getPath)))
    f.delete()
  }

  /** (path, length) of every file under a directory, recursively. */
  def list(path: String): Seq[(String, Long)] = {
    val f = new java.io.File(path)
    if (f.isFile) Seq(f.getPath -> f.length())
    else Option(f.listFiles()).fold(Seq.empty[(String, Long)])(_.toSeq.flatMap(c => list(c.getPath)))
  }

  /** (files, bytes) under a directory, recursively. */
  def usage(path: String): (Long, Long) = {
    val f = new java.io.File(path)
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).fold((0L, 0L))(_.map(c => usage(c.getPath))
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) })
  }
}
