package graft.queries

import graft.QueryDef
import graft.QueryDef.df
import graft.engine.Tables
import graft.operators.{AsofJoin, Bpe, Dedup, LinkGraph, Multimodal, RangeJoin, Retrieval, Sampling, Similarity, Sketches, Skew, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._

/** Oracle-verified coverage of the Scala operator API (graft.operators.*)
  * and the Structured Streaming module — the same semantics as the SQL
  * formulations in PipelineQueries/EventsQueries, driven through the typed
  * entry points a library user would call.
  */
object OperatorQueries {

  private val qMinhashApi = df("q_op_minhash_api",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text")
      val bands = Dedup.minhashBands(sigs, "doc_id")
      Dedup.minhashCandidates(bands, "doc_id").orderBy("d1", "d2")
    },
    // same oracle as q_dedup_minhash_pairs
    graft.queries.PipelineQueries.all.find(_.name == "q_dedup_minhash_pairs").get.oracle)

  private val qAnnApi = df("q_op_ann_api",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.lshTopK(vecs, probes, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"), col("__bucket").cast("bigint").as("bucket"),
          expr("CAST(CAST(cos_sim AS DECIMAL(18,10)) AS DOUBLE)").as("cos_sim"),
          col("rnk").cast("bigint").as("rnk"))
        .orderBy("query_id", "rnk")
    },
    graft.queries.PipelineQueries.all.find(_.name == "q_ann_lsh").get.oracle)

  private val qQualityApi = df("q_op_quality_api",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      TextAnalysis.qualityStats(docs, "doc_id", "text")
        .select(col("doc_id"),
          col("n_chars").as("n_chars_m"), col("n_tokens"), col("n_distinct_tokens"),
          col("ttr_ppm"), col("avg_token_len_ppm"),
          col("n_numbers"), col("stopword_ppm"),
          col("quality_pass"))
        .orderBy("doc_id")
    },
    graft.queries.PipelineQueries.all.find(_.name == "q_text_quality").get.oracle)

  // IVF ANN (corpus-vs-corpus scale path, Similarity.ivfTopK): sign-bit
  // initial cells -> one Lloyd step with fixed-point BIGINT centroids ->
  // nearest-cell equi-join. The oracle replays the identical integer/
  // sequential-double arithmetic, so the cell assignment and top-k match
  // bit-for-bit.
  /** Shared DuckDB replay of the IVF cell pipeline (LSH-seeded cells,
    * fixed-point centroid build, best-cell re-assignment), ending in an
    * `a` CTE (vec_id, embedding, nrm, cell) with `scored` still in scope
    * for nProbe>1 probe selection. One source of truth for every ANN
    * oracle that rides the same pipeline (the erOracleBase discipline). */
  private def ivfOracleBase: String = ivfOracleRounds(1)

  /** Same replay generalized to `iters` Lloyd rounds (Similarity.ivfTopK's
    * `iters` knob): round 1 groups the fixed-point centroid sums by the LSH
    * seed cell, every later round by the PREVIOUS round's argmax
    * assignment. Only the FINAL round's `scored`/`a` keep the unsuffixed
    * names the downstream oracle SQL consumes, so iters=1 reproduces the
    * original text shape. */
  private def ivfOracleRounds(iters: Int, nBits: Int = 4): String = {
    import PipelineQueries.{duckDot, duckHp, bucketExprN}
    def nm(t: Int, base: String) = if (t == iters) base else s"${base}_$t"
    val head =
      s"""base AS (
         |  SELECT vec_id, embedding,
         |    SQRT(${duckDot("embedding", "embedding")}) AS nrm,
         |    ${bucketExprN(duckHp, "embedding", nBits)} AS cell0
         |  FROM embeddings
         |)""".stripMargin
    val rounds = (1 to iters).map { t =>
      val src = if (t == 1) "base" else nm(t - 1, "a")
      val key = if (t == 1) "cell0" else "cell"
      s"""${nm(t, "centel")} AS (
         |  SELECT $key AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM $src CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY $key, i
         |), ${nm(t, "cent")} AS (
         |  SELECT cid, list(m ORDER BY i) AS cvec FROM ${nm(t, "centel")} GROUP BY cid
         |), ${nm(t, "cent2")} AS (
         |  SELECT cid, cvec, SQRT(${duckDot("cvec", "cvec")}) AS cnrm FROM ${nm(t, "cent")}
         |), ${nm(t, "scored")} AS (
         |  SELECT b.vec_id, b.embedding, b.nrm, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.cvec")} / c.cnrm DESC, c.cid) AS rr
         |  FROM base b CROSS JOIN ${nm(t, "cent2")} c
         |), ${nm(t, "a")} AS (
         |  SELECT vec_id, embedding, nrm, cid AS cell FROM ${nm(t, "scored")} WHERE rr = 1
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private val qAnnIvf = df("q_ann_ivf",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.ivfTopK(vecs, probes, "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("neighbor_id"),
          col("cell").cast("bigint").as("cell"),
          expr("CAST(CAST(cos_sim AS DECIMAL(18,10)) AS DOUBLE)").as("cos_sim"),
          col("rnk").cast("bigint").as("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some {
      import PipelineQueries.duckDot
      s"""WITH $ivfOracleBase, q AS (SELECT * FROM a WHERE vec_id < 20)
         |SELECT * FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(q.cell AS BIGINT) AS cell,
         |    CAST(CAST(${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS DECIMAL(18,10)) AS DOUBLE) AS cos_sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS BIGINT) AS rnk
         |  FROM q JOIN a c ON q.cell = c.cell AND q.vec_id <> c.vec_id
         |) t WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin
    })

  // ANN recall audit (Similarity.annRecall): recall@5 of nProbe=1 IVF
  // against the exact brute-force ground truth — the "measure, don't
  // guess" companion to the nProbe knob. The oracle replays BOTH search
  // algorithms (the full IVF cell pipeline AND the exact top-k) plus the
  // hit-count join, all integer-exact at the recall_ppm floor division.
  private val qAnnRecall = df("q_ann_recall",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      val ivf = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding", k = 5)
      val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 5)
      Similarity.annRecall(ivf, exact)
        .select(col("query_id"), col("k").cast("bigint").as("k"),
          col("hits").cast("bigint").as("hits"),
          col("recall_ppm").cast("bigint").as("recall_ppm"))
        .orderBy("query_id")
    },
    Some {
      import PipelineQueries.duckDot
      s"""WITH $ivfOracleBase, q AS (SELECT * FROM a WHERE vec_id < 20),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM q JOIN a c ON q.cell = c.cell AND q.vec_id <> c.vec_id
         |  ) t WHERE rnk <= 5
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM q JOIN base c ON q.vec_id <> c.vec_id
         |  ) t WHERE rnk <= 5
         |)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
         |  CAST(COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  // The knob-vs-recall measurement pair to q_ann_recall: the SAME audit at
  // nProbe=2 — recall@5 should strictly improve over the nProbe=1 number,
  // turning "nProbe is the recall knob" from a claim into two data points.
  private val qAnnRecall2 = df("q_ann_recall2",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      val ivf2 = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding",
        k = 5, nProbe = 2)
      val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 5)
      Similarity.annRecall(ivf2, exact)
        .select(col("query_id"), col("k").cast("bigint").as("k"),
          col("hits").cast("bigint").as("hits"),
          col("recall_ppm").cast("bigint").as("recall_ppm"))
        .orderBy("query_id")
    },
    Some {
      import PipelineQueries.duckDot
      s"""WITH $ivfOracleBase, q AS (
         |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored
         |  WHERE rr <= 2 AND vec_id < 20
         |),
         |ivf AS (
         |  SELECT DISTINCT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM q JOIN a c ON q.cell = c.cell AND q.vec_id <> c.vec_id
         |  ) t WHERE rnk <= 5
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT DISTINCT vec_id, embedding, nrm FROM q) q
         |    JOIN base c ON q.vec_id <> c.vec_id
         |  ) t WHERE rnk <= 5
         |)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
         |  CAST(COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  // The rest of the recall curve, one green oracle entry per operating
  // point (VERDICT r5 #2: "make the knob curve a standing artifact"):
  // nProbe 4 and 8 of the 16 cells, and a Lloyd-trained-centroids point
  // (iters=3) at nProbe=2. Every point replays BOTH search algorithms in
  // DuckDB — including all three Lloyd rounds for the trained point — so
  // the recall numbers in ROADMAP.md are driver-verified measurements,
  // not claims. On this isotropic-random fixture the curve is
  // nProbe-dominated (see ROADMAP.md); corpora with real cluster
  // structure shift gains toward the trained centroids.
  private def annRecallQuery(name: String, nProbe: Int, iters: Int): QueryDef =
    df(name,
      (spark, dir) => {
        val vecs = Tables.table(spark, dir, "embeddings")
        val probes = vecs.filter(col("vec_id") < 20)
        val ivf = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding",
          k = 5, nProbe = nProbe, iters = iters)
        val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 5)
        Similarity.annRecall(ivf, exact)
          .select(col("query_id"), col("k").cast("bigint").as("k"),
            col("hits").cast("bigint").as("hits"),
            col("recall_ppm").cast("bigint").as("recall_ppm"))
          .orderBy("query_id")
      },
      Some {
        import PipelineQueries.duckDot
        s"""WITH ${ivfOracleRounds(iters)}, q AS (
           |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored
           |  WHERE rr <= $nProbe AND vec_id < 20
           |),
           |ivf AS (
           |  SELECT DISTINCT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
           |    FROM q JOIN a c ON q.cell = c.cell AND q.vec_id <> c.vec_id
           |  ) t WHERE rnk <= 5
           |), exact AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
           |    FROM (SELECT DISTINCT vec_id, embedding, nrm FROM q) q
           |    JOIN base c ON q.vec_id <> c.vec_id
           |  ) t WHERE rnk <= 5
           |)
           |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
           |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
           |  CAST(COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
           |FROM exact e LEFT JOIN ivf i
           |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
      })

  private val qAnnRecall4 = annRecallQuery("q_ann_recall4", nProbe = 4, iters = 1)
  private val qAnnRecall8 = annRecallQuery("q_ann_recall8", nProbe = 8, iters = 1)
  private val qAnnRecallLloyd = annRecallQuery("q_ann_recall_lloyd", nProbe = 2, iters = 3)

  // 256-cell recall family (VERDICT r6 #2): the same audit at a realistic
  // index size — nBits=8 (256 cells), Lloyd-trained centroids (iters=3),
  // nProbe=16 = 6% of cells probed — plus the corpusAssign redundancy knob
  // (spill-tree / FLANN-style multi-assignment: each corpus vector indexed
  // in its r nearest cells). On the isotropic fixture single assignment
  // tops out at 53% recall@5 on the 200-probe measurement set (58% on
  // this query's 20-probe subset) at this operating point — a
  // data-property ceiling, not an implementation artifact (a NumPy
  // replica of ideal float k-means measures the same 57.8% there;
  // isotropic Gaussians put a query's true neighbors in near-uniformly
  // many Voronoi cells) — and r=2/3/4 lift it to 69%/78%/84% at r-times
  // index size, probing still 6% of cells. Measured curve: SCALING.md.
  // The oracle replays all three Lloyd
  // rounds at 256 cells, the r-wide corpus assignment, the duplicate-pair
  // collapse (MAX over identical cosines), and both rankings.
  private def annRecall256Query(name: String, nProbe: Int, iters: Int,
                                corpusAssign: Int): QueryDef =
    df(name,
      (spark, dir) => {
        val vecs = Tables.table(spark, dir, "embeddings")
        val probes = vecs.filter(col("vec_id") < 20)
        val ivf = Similarity.ivfTopK(vecs, probes, "vec_id", "embedding",
          k = 5, nBits = 8, nProbe = nProbe, iters = iters, corpusAssign = corpusAssign)
        val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 5)
        Similarity.annRecall(ivf, exact)
          .select(col("query_id"), col("k").cast("bigint").as("k"),
            col("hits").cast("bigint").as("hits"),
            col("recall_ppm").cast("bigint").as("recall_ppm"))
          .orderBy("query_id")
      },
      Some {
        import PipelineQueries.duckDot
        s"""WITH ${ivfOracleRounds(iters, nBits = 8)}, q AS (
           |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored
           |  WHERE rr <= $nProbe AND vec_id < 20
           |), ac AS (
           |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored WHERE rr <= $corpusAssign
           |),
           |ivf AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT query_id, neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
           |    FROM (
           |      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |        MAX(${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm)) AS sim
           |      FROM q JOIN ac c ON q.cell = c.cell AND q.vec_id <> c.vec_id
           |      GROUP BY q.vec_id, c.vec_id
           |    ) p
           |  ) t WHERE rnk <= 5
           |), exact AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
           |    FROM (SELECT DISTINCT vec_id, embedding, nrm FROM q) q
           |    JOIN base c ON q.vec_id <> c.vec_id
           |  ) t WHERE rnk <= 5
           |)
           |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
           |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
           |  CAST(COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
           |FROM exact e LEFT JOIN ivf i
           |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
      })

  private val qAnnRecall256 =
    annRecall256Query("q_ann_recall256", nProbe = 16, iters = 3, corpusAssign = 1)
  private val qAnnRecall256R2 =
    annRecall256Query("q_ann_recall256_r2", nProbe = 16, iters = 3, corpusAssign = 2)
  private val qAnnRecall256R3 =
    annRecall256Query("q_ann_recall256_r3", nProbe = 16, iters = 3, corpusAssign = 3)

  // nProbe=2 IVF: each probe scans its two nearest cells (candidates stay
  // disjoint — every corpus vector lives in exactly one cell), the recall
  // knob of the IVF design. Oracle = same pipeline with rr <= 2 probes.
  private val qAnnIvf2 = df("q_ann_ivf2",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.ivfTopK(vecs, probes, "vec_id", "embedding", k = 3, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"),
          col("cell").cast("bigint").as("cell"),
          expr("CAST(CAST(cos_sim AS DECIMAL(18,10)) AS DOUBLE)").as("cos_sim"),
          col("rnk").cast("bigint").as("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some {
      import PipelineQueries.duckDot
      s"""WITH $ivfOracleBase, q AS (
         |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored
         |  WHERE rr <= 2 AND vec_id < 20
         |)
         |SELECT * FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(c.cell AS BIGINT) AS cell,
         |    CAST(CAST(${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS DECIMAL(18,10)) AS DOUBLE) AS cos_sim,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS BIGINT) AS rnk
         |  FROM q JOIN a c ON q.cell = c.cell AND q.vec_id <> c.vec_id
         |) t WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin
    })

  // PQ ANN (Similarity.pqTopK): product-quantization scan with ADC lookup
  // tables. The oracle rebuilds the per-subspace codebooks, re-codes every
  // vector, recomputes the query distance tables, and replays the full
  // ranking — codebook, code, and score arithmetic all bit-exact.
  private val qAnnPq = df("q_ann_pq",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.pqTopK(vecs, probes, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rnk")
    },
    Some {
      import PipelineQueries.duckDot
      // per-subspace LSH bucket: same hyperplane family as the 64-dim
      // form, but folded over the 8 subvector positions
      def hp8(v: String, j: Int): String =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), i -> CAST($v[i + 1] AS DOUBLE) * (((i * 37 + $j * 101) % 11) - 5))), (s, x) -> s + x)"
      val bucket8 = (0 to 3).map(j =>
        s"(CASE WHEN ${hp8("sub", j)} > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      val l2 = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 9), i -> " +
        "(CAST(c.sub[i] AS DOUBLE) - CAST(b.cvec[i] AS DOUBLE) / 1000000) * " +
        "(CAST(c.sub[i] AS DOUBLE) - CAST(b.cvec[i] AS DOUBLE) / 1000000))), (a, v) -> a + v)"
      s"""WITH sub AS (
         |  SELECT vec_id, s, embedding[s * 8 + 1 : s * 8 + 8] AS sub
         |  FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |), cell AS (
         |  SELECT vec_id, s, sub, $bucket8 AS cell0 FROM sub
         |), cbel AS (
         |  SELECT s, cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(sub[i] AS DOUBLE) * 1000000) AS BIGINT)) AS ms,
         |    COUNT(*) AS cnt
         |  FROM cell, (SELECT unnest(range(1, 9)) AS i)
         |  GROUP BY s, cell0, i
         |), cb AS (
         |  SELECT s, cid, list(CAST(ms // cnt AS BIGINT) ORDER BY i) AS cvec
         |  FROM cbel GROUP BY s, cid
         |), d AS (
         |  SELECT c.vec_id, c.s, b.cid, $l2 AS d2
         |  FROM cell c JOIN cb b ON c.s = b.s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rr
         |    FROM d) t WHERE rr = 1
         |), adc AS (
         |  SELECT q.vec_id AS qid, q.s, b.cid,
         |    CAST(FLOOR(${duckDot("q.sub", "b.cvec")}) AS BIGINT) AS pd
         |  FROM cell q JOIN cb b ON q.s = b.s WHERE q.vec_id < 20
         |), scored AS (
         |  SELECT a.qid AS query_id, c.vec_id AS neighbor_id,
         |    CAST(SUM(a.pd) AS BIGINT) AS adot_micro
         |  FROM codes c JOIN adc a ON c.s = a.s AND c.code = a.cid
         |  WHERE a.qid <> c.vec_id
         |  GROUP BY a.qid, c.vec_id
         |)
         |SELECT query_id, neighbor_id, adot_micro, rnk FROM (
         |  SELECT query_id, neighbor_id, adot_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adot_micro DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    })

  // IVF-PQ (Similarity.ivfPqTopK): the composed index — IVF cells prune
  // candidates, PQ/ADC scores them. The oracle chains the qAnnIvf cell
  // assignment and the qAnnPq codebook stack, filtered to same-cell
  // pairs, and replays the entire ranking.
  private val qAnnIvfPq = df("q_ann_ivfpq",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.ivfPqTopK(vecs, probes, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("cell").cast("bigint").as("cell"), col("adot_micro"), col("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some {
      import PipelineQueries.{duckDot, duckHp, bucketExpr}
      def hp8(v: String, j: Int): String =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), i -> CAST($v[i + 1] AS DOUBLE) * (((i * 37 + $j * 101) % 11) - 5))), (s, x) -> s + x)"
      val bucket8 = (0 to 3).map(j =>
        s"(CASE WHEN ${hp8("sub", j)} > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      val l2 = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 9), i -> " +
        "(CAST(c.sub[i] AS DOUBLE) - CAST(b.cvec[i] AS DOUBLE) / 1000000) * " +
        "(CAST(c.sub[i] AS DOUBLE) - CAST(b.cvec[i] AS DOUBLE) / 1000000))), (a, v) -> a + v)"
      s"""WITH ibase AS (
         |  SELECT vec_id, embedding,
         |    ${bucketExpr(duckHp, "embedding")} AS cell0
         |  FROM embeddings
         |), icentel AS (
         |  SELECT cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS mc
         |  FROM ibase CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY cell0, i
         |), icent AS (
         |  SELECT cid, list(mc ORDER BY i) AS ivec FROM icentel GROUP BY cid
         |), icent2 AS (
         |  SELECT cid, ivec, SQRT(${duckDot("ivec", "ivec")}) AS inrm FROM icent
         |), iscored AS (
         |  SELECT b.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.ivec")} / c.inrm DESC, c.cid) AS rr
         |  FROM ibase b CROSS JOIN icent2 c
         |), cells AS (
         |  SELECT vec_id, cid AS cell FROM iscored WHERE rr = 1
         |), sub AS (
         |  SELECT vec_id, s, embedding[s * 8 + 1 : s * 8 + 8] AS sub
         |  FROM embeddings, (SELECT unnest(range(0, 8)) AS s)
         |), pcell AS (
         |  SELECT vec_id, s, sub, $bucket8 AS cell0 FROM sub
         |), cbel AS (
         |  SELECT s, cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(sub[i] AS DOUBLE) * 1000000) AS BIGINT)) AS ms,
         |    COUNT(*) AS cnt
         |  FROM pcell, (SELECT unnest(range(1, 9)) AS i)
         |  GROUP BY s, cell0, i
         |), cb AS (
         |  SELECT s, cid, list(CAST(ms // cnt AS BIGINT) ORDER BY i) AS cvec
         |  FROM cbel GROUP BY s, cid
         |), d AS (
         |  SELECT c.vec_id, c.s, b.cid, $l2 AS d2
         |  FROM pcell c JOIN cb b ON c.s = b.s
         |), codes AS (
         |  SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rr
         |    FROM d) t WHERE rr = 1
         |), adc AS (
         |  SELECT q.vec_id AS qid, q.s, b.cid,
         |    CAST(FLOOR(${duckDot("q.sub", "b.cvec")}) AS BIGINT) AS pd
         |  FROM pcell q JOIN cb b ON q.s = b.s WHERE q.vec_id < 20
         |), scored AS (
         |  SELECT a.qid AS query_id, c.vec_id AS neighbor_id, cc.cell,
         |    CAST(SUM(a.pd) AS BIGINT) AS adot_micro
         |  FROM codes c
         |  JOIN cells cc ON c.vec_id = cc.vec_id
         |  JOIN adc a ON c.s = a.s AND c.code = a.cid
         |  JOIN cells qc ON qc.vec_id = a.qid AND qc.cell = cc.cell
         |  WHERE a.qid <> c.vec_id
         |  GROUP BY a.qid, c.vec_id, cc.cell
         |)
         |SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell, adot_micro, rnk FROM (
         |  SELECT query_id, neighbor_id, cell, adot_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adot_micro DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    })

  // Residual IVF-PQ (Similarity.ivfPqResidualTopK): the canonical IVFADC
  // layout — PQ codes over (x − cell centroid) residuals, L2 ADC scoring.
  // The oracle replays cell assignment, the pmod-exact mean centroids,
  // residuals, residual codebooks, codes, the query distance tables, and
  // the ascending ranking — every emitted l2_micro integer is recomputed.
  /** Shared DuckDB replay of the FULL residual IVF-PQ (IVFADC) pipeline —
    * cell assignment, pmod-exact mean centroids, residuals, residual
    * codebooks, codes, query ADC tables — ending in a `scored` CTE of
    * (query_id, neighbor_id, cell, l2_micro) candidate scores. One source
    * of truth for the replay oracle AND the ADC-recall audit (the
    * erOracleBase / ivfOracleRounds discipline).
    *
    * `nProbe` = 1 emits the original single-probe text (query residuals
    * ride the shared single-assignment `pcell`); nProbe > 1 adds the
    * multi-probe query chain — qcells (the probe's nProbe nearest cells
    * from iscored), per-probed-cell residuals, subvectors — and points
    * `adc` at it, mirroring Similarity.ivfPqResidualTopK's nProbe knob.
    *
    * `trainSql` is the TRAINING corpus (centroids + codebooks derive from
    * it alone); `allSql` is every vector that gets assigned/encoded — by
    * default the two coincide (the build-then-query replay). The append
    * oracle (q_ann_ivfadc_append) splits them: train = original corpus,
    * all = corpus UNION the appended batch, replaying exactly the
    * frozen-quantizer add semantics of appendIvfPqResidualIndex. Probes
    * are always drawn from the training corpus (`probeWhere`). */
  private def ivfPqResidualOracleCtes(nProbe: Int = 1,
      trainSql: String = "SELECT vec_id, embedding FROM embeddings",
      allSql: String = "SELECT vec_id, embedding FROM embeddings",
      probeWhere: String = "vec_id < 20",
      // probe vectors NOT in train/all (a streamed batch searching the
      // index as of its arrival): encSql unions their (vec_id, embedding)
      // rows into venc so they get cells/residuals WITHOUT entering the
      // searchable code table; probeSql then names them as the probe set
      // (overriding the default train-member probeWhere filter)
      encSql: Option[String] = None,
      probeSql: Option[String] = None): String = {
      import PipelineQueries.{duckDot, duckHp, bucketExpr}
      def hp8(v: String, j: Int): String =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 8), i -> CAST($v[i + 1] AS DOUBLE) * (((i * 37 + $j * 101) % 11) - 5))), (s, x) -> s + x)"
      val bucket8 = (0 to 3).map(j =>
        s"(CASE WHEN ${hp8("sub", j)} > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
      def l2(a: String, b: String) = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(range(1, 9), i -> " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE) / 1000000) * " +
        s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE) / 1000000))), (a, v) -> a + v)"
      s"""vtrain AS (
         |  $trainSql
         |), vall AS (
         |  $allSql
         |), venc AS (
         |  -- every vector that was EVER assigned/encoded: the training
         |  -- corpus (codebooks were fit on its residuals, including rows
         |  -- later tombstoned) plus the live set; = both when they coincide
         |  SELECT vec_id, embedding FROM vtrain
         |  UNION
         |  SELECT vec_id, embedding FROM vall
         |${encSql.map(sql => s"  UNION\n|  $sql\n|").getOrElse("")}), vprobe AS (
         |  ${probeSql.getOrElse(s"SELECT vec_id FROM vtrain WHERE $probeWhere")}
         |), ibase AS (
         |  SELECT vec_id, embedding,
         |    ${bucketExpr(duckHp, "embedding")} AS cell0
         |  FROM vtrain
         |), icentel AS (
         |  SELECT cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS mc,
         |    COUNT(*) AS cnt
         |  FROM ibase CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY cell0, i
         |), icent AS (
         |  SELECT cid, list(mc ORDER BY i) AS ivec,
         |    list(CAST((mc - ((mc % cnt) + cnt) % cnt) // cnt AS BIGINT) ORDER BY i) AS mvec
         |  FROM icentel GROUP BY cid
         |), icent2 AS (
         |  SELECT cid, ivec, mvec, SQRT(${duckDot("ivec", "ivec")}) AS inrm FROM icent
         |), iscored AS (
         |  SELECT b.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.ivec")} / c.inrm DESC, c.cid) AS rr
         |  FROM venc b CROSS JOIN icent2 c
         |), cells AS (
         |  SELECT vec_id, cid AS cell FROM iscored WHERE rr = 1
         |), res AS (
         |  SELECT e.vec_id, cc.cell,
         |    list_transform(range(1, 65), i ->
         |      CAST(e.embedding[i] AS DOUBLE) - CAST(c.mvec[i] AS DOUBLE) / 1000000) AS rvec
         |  FROM venc e
         |  JOIN cells cc ON e.vec_id = cc.vec_id
         |  JOIN icent2 c ON cc.cell = c.cid
         |), sub AS (
         |  SELECT vec_id, cell, s, rvec[s * 8 + 1 : s * 8 + 8] AS sub
         |  FROM res, (SELECT unnest(range(0, 8)) AS s)
         |), pcell AS (
         |  SELECT vec_id, cell, s, sub, $bucket8 AS cell0 FROM sub
         |), cbel AS (
         |  SELECT s, cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(sub[i] AS DOUBLE) * 1000000) AS BIGINT)) AS ms,
         |    COUNT(*) AS cnt
         |  FROM pcell, (SELECT unnest(range(1, 9)) AS i)
         |  WHERE vec_id IN (SELECT vec_id FROM vtrain)
         |  GROUP BY s, cell0, i
         |), cb AS (
         |  SELECT s, cid,
         |    list(CAST((ms - ((ms % cnt) + cnt) % cnt) // cnt AS BIGINT) ORDER BY i) AS cvec
         |  FROM cbel GROUP BY s, cid
         |), d AS (
         |  SELECT c.vec_id, c.cell, c.s, b.cid, ${l2("c.sub", "b.cvec")} AS d2
         |  FROM pcell c JOIN cb b ON c.s = b.s
         |), codes AS (
         |  -- the SEARCHABLE code table: only live vectors (vall) — rows
         |  -- encoded for later-tombstoned training vectors exist in the
         |  -- replay solely to fit the codebooks, exactly like the engine
         |  SELECT vec_id, cell, s, cid AS code FROM (
         |    SELECT vec_id, cell, s, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rr
         |    FROM d) t
         |  WHERE rr = 1 AND vec_id IN (SELECT vec_id FROM vall)
         |), ${
        if (nProbe <= 1)
          s"""adc AS (
             |  SELECT q.vec_id AS qid, q.cell AS qcell, q.s, b.cid,
             |    CAST(FLOOR((${l2("q.sub", "b.cvec")}) * 1000000) AS BIGINT) AS pd
             |  FROM pcell q JOIN cb b ON q.s = b.s
             |  WHERE q.vec_id IN (SELECT vec_id FROM vprobe)""".stripMargin
        else
          s"""qcells AS (
             |  SELECT vec_id, cid AS cell FROM iscored
             |  WHERE rr <= $nProbe AND vec_id IN (SELECT vec_id FROM vprobe)
             |), qres AS (
             |  SELECT e.vec_id, qc.cell,
             |    list_transform(range(1, 65), i ->
             |      CAST(e.embedding[i] AS DOUBLE) - CAST(c.mvec[i] AS DOUBLE) / 1000000) AS rvec
             |  FROM venc e
             |  JOIN qcells qc ON e.vec_id = qc.vec_id
             |  JOIN icent2 c ON qc.cell = c.cid
             |), qsub AS (
             |  SELECT vec_id, cell, s, rvec[s * 8 + 1 : s * 8 + 8] AS sub
             |  FROM qres, (SELECT unnest(range(0, 8)) AS s)
             |), adc AS (
             |  SELECT q.vec_id AS qid, q.cell AS qcell, q.s, b.cid,
             |    CAST(FLOOR((${l2("q.sub", "b.cvec")}) * 1000000) AS BIGINT) AS pd
             |  FROM qsub q JOIN cb b ON q.s = b.s""".stripMargin
      }
         |), scored AS (
         |  SELECT a.qid AS query_id, c.vec_id AS neighbor_id, c.cell,
         |    CAST(SUM(a.pd) AS BIGINT) AS l2_micro
         |  FROM codes c
         |  JOIN adc a ON c.s = a.s AND c.code = a.cid AND c.cell = a.qcell
         |  WHERE a.qid <> c.vec_id
         |  GROUP BY a.qid, c.vec_id, c.cell
         |)""".stripMargin
  }

  private val qAnnIvfPqResidual = df("q_ann_ivfpq_residual",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      Similarity.ivfPqResidualTopK(vecs, probes, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          col("cell").cast("bigint").as("cell"), col("l2_micro"), col("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some {
      s"""WITH ${ivfPqResidualOracleCtes()}
         |SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell, l2_micro, rnk FROM (
         |  SELECT query_id, neighbor_id, cell, l2_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY l2_micro ASC, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    })

  // ADC approximation quality (VERDICT r6 #2, second half): recall@5 of
  // the residual IVF-PQ search against the EXACT brute-force cosine
  // ground truth — the hash-exact replay above proves the engine computes
  // IVFADC faithfully; this query measures what IVFADC's compressed,
  // cell-pruned ranking is WORTH against the uncompressed answer (both
  // the cell-pruning loss and the 64x PQ compression loss land here).
  // Oracle = the same full-pipeline replay composed with the exact top-k
  // and the recall join. Note the ground truth ranks by cosine while
  // IVFADC ranks by residual L2 — the operating-point recall therefore
  // also absorbs the metric mismatch on unnormalized vectors, exactly as
  // a user switching search backends would experience it.
  private val qAnnIvfPqRecall = df("q_ann_ivfpq_recall",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      // composed (materialize = false), measured: the recall audit joins
      // the ADC arm against the exact arm over the SAME corpus in one
      // DAG, where runtime exchange reuse shares the training subplans —
      // solo A/B at sf0.1 read 1.16s composed vs 3.43s materialized
      val adc = Similarity.ivfPqResidualTopK(vecs, probes, "vec_id", "embedding",
        k = 5, materialize = false)
      val exact = Similarity.bruteForceTopK(vecs, probes, "vec_id", "embedding", k = 5)
      Similarity.annRecall(adc, exact)
        .select(col("query_id"), col("k").cast("bigint").as("k"),
          col("hits").cast("bigint").as("hits"),
          col("recall_ppm").cast("bigint").as("recall_ppm"))
        .orderBy("query_id")
    },
    Some {
      import PipelineQueries.duckDot
      s"""WITH ${ivfPqResidualOracleCtes()}, ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY l2_micro ASC, neighbor_id) AS rnk
         |    FROM scored) t WHERE rnk <= 5
         |), vb AS (
         |  SELECT vec_id, embedding, SQRT(${duckDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${duckDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT * FROM vb WHERE vec_id < 20) q
         |    JOIN vb c ON q.vec_id <> c.vec_id
         |  ) t WHERE rnk <= 5
         |)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(i.neighbor_id) AS BIGINT) AS hits,
         |  CAST(COUNT(i.neighbor_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
    })

  // IVFADC+R (Similarity.ivfPqResidualTopK nProbe/rerank knobs): multi-
  // probe ADC shortlist (nProbe=4 cells, top-50 by integer l2_micro) then
  // exact-cosine re-ranking of the shortlist — the Jégou et al. 2011
  // re-ranking layout. The oracle replays the multi-probe query chain
  // (per-probed-cell residuals and ADC tables), the integer shortlist
  // cut, and the double-exact re-ranking; measured recall effect is in
  // SCALING.md (rerank recovers the cell ceiling when codes are rich).
  // The SAME oracle also gates q_ann_ivfadc_store below: a parquet
  // round-trip of the index tables must not move a single bit.
  private def ivfAdcRerankSelect(
      out: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = out
    .select(col("query_id"), col("neighbor_id"),
      col("cell").cast("bigint").as("cell"),
      expr("CAST(CAST(cos_sim AS DECIMAL(18,10)) AS DOUBLE)").as("cos_sim"),
      col("rnk"))
    .orderBy("query_id", "rnk")

  private val qAnnIvfAdcRerank = df("q_ann_ivfadc_rerank",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      ivfAdcRerankSelect(Similarity.ivfPqResidualTopK(vecs, probes, "vec_id",
        "embedding", k = 5, nProbe = 4, rerank = 50))
    },
    Some(ivfAdcRerankOracle()))

  // rerank oracle over a parameterized train/all split (vb — the exact
  // re-ranking vector pool — reads the CTE chain's vall, so the appended
  // vectors re-rank too in the append spelling)
  private def ivfAdcRerankOracle(
      trainSql: String = "SELECT vec_id, embedding FROM embeddings",
      allSql: String = "SELECT vec_id, embedding FROM embeddings",
      probeWhere: String = "vec_id < 20"): String = {
      import PipelineQueries.duckDot
      s"""WITH ${ivfPqResidualOracleCtes(nProbe = 4, trainSql, allSql, probeWhere)}, cand AS (
         |  SELECT query_id, neighbor_id, cell FROM (
         |    SELECT query_id, neighbor_id, cell,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY l2_micro ASC, neighbor_id) AS rnk
         |    FROM scored) t WHERE rnk <= 50
         |), vb AS (
         |  SELECT vec_id, embedding, SQRT(${duckDot("embedding", "embedding")}) AS nrm
         |  FROM vall
         |)
         |SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell,
         |  CAST(CAST(cos AS DECIMAL(18,10)) AS DOUBLE) AS cos_sim, rnk
         |FROM (
         |  SELECT c.query_id, c.neighbor_id, c.cell,
         |    ${duckDot("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cos,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY c.query_id
         |      ORDER BY ${duckDot("q.embedding", "n.embedding")} / (q.nrm * n.nrm) DESC, c.neighbor_id) AS BIGINT) AS rnk
         |  FROM cand c
         |  JOIN vb q ON c.query_id = q.vec_id
         |  JOIN vb n ON c.neighbor_id = n.vec_id
         |) t WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
  }

  // Index persistence (Similarity.buildIvfPqResidualIndex / IvfPqResidualIndex
  // write/read + queryIvfPqResidual): the build/query split a deployment
  // actually runs — build the IVFADC index tables, WRITE them to parquet,
  // read them back, and answer the same IVFADC+R query from the stored
  // index. Same oracle as q_ann_ivfadc_rerank: the round-trip must be
  // bit-exact (fixed-point BIGINT tables + one IEEE double column).
  private val annIdxScratch = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_ann_idx-" +
      java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))
    d
  }

  // THE one copy of the mtime-ordered micro-batch staging used by every
  // file-stream fixture (the indexed ANN and BM25 loops): each batch lands
  // as one parquet file under `base/in` with strictly increasing mtimes, so
  // maxFilesPerTrigger=1 replays them in a deterministic trigger order.
  private def stageMtimeOrderedBatches(base: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$base/part_$i")
      new java.io.File(s"$base/in").mkdirs()
      val f = new java.io.File(s"$base/part_$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(s"$base/in/$i.parquet")
      java.nio.file.Files.move(f.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + i * 60000L)
    }
    s"$base/in"
  }
  private val qAnnIvfAdcStore = df("q_ann_ivfadc_store",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      val probes = vecs.filter(col("vec_id") < 20)
      // fresh subdirectory per invocation: concurrent runs of this query in
      // one JVM (parallel spec harnesses) must not race overwrite-vs-read
      // on a shared index path; the shutdown hook removes the whole scratch
      val stored = Similarity.writeIvfPqResidualIndex(
        vecs, "vec_id", "embedding",
        s"$annIdxScratch/${java.util.UUID.randomUUID().toString.take(8)}")
      ivfAdcRerankSelect(Similarity.queryIvfPqResidual(stored, vecs, probes,
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 50))
    },
    Some(ivfAdcRerankOracle()))

  // Incremental ANN ingest (Similarity.appendIvfPqResidualIndex): build
  // and store the index from 3/4 of the corpus, APPEND the held-out
  // quarter under new ids (frozen centroids/codebooks — the standard IVF
  // add path), and answer the same IVFADC+R query from the appended
  // index. The oracle splits the replay's train/all sources: centroids
  // and codebooks derive from the original corpus ONLY, while assignment
  // and codes cover corpus UNION batch — so an append that retrained,
  // dropped, or mis-encoded a single vector hash-fails. Appended vectors
  // DO appear among the expected neighbors (they are near-dup copies of
  // held-out fixture rows), which also pins that the add path makes new
  // vectors immediately searchable.
  private val qAnnIvfAdcAppend = df("q_ann_ivfadc_append",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val corpus = vecs.filter(col("vec_id") % 4 =!= 0)
      val batch = vecs.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") < 20 && col("vec_id") % 4 =!= 0)
      val idxDir = s"$annIdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", idxDir)
      val appended = Similarity.appendIvfPqResidualIndex(
        batch, "vec_id", "embedding", idxDir)
      ivfAdcRerankSelect(Similarity.queryIvfPqResidual(appended,
        corpus.unionAll(batch), probes,
        "vec_id", "embedding", k = 5, nProbe = 4, rerank = 50))
    },
    Some(ivfAdcRerankOracle(
      trainSql = "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0",
      allSql = """SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0
                 |  UNION ALL
                 |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 4 = 0""".stripMargin)))

  // The lifecycle end on the ANN side (Similarity.compactIvfPqResidualIndex,
  // mirroring q_dedup_minhash_index_compact): append the held-out quarter
  // TWICE (the second = a retried partial failure, whose duplicate code
  // rows would DOUBLE ADC distances if left in place), tombstone an eighth
  // of the original corpus, compact, and query. The oracle's train side
  // stays the original corpus (frozen quantizers survive deletes); its
  // all side is (corpus MINUS the dropped ids) UNION the batch — so a drop
  // that failed, a duplicate that survived (corrupting l2_micro), or a
  // retrain all hash-fail. Probes avoid the dropped ids so both engines
  // query the same probe set.
  private val qAnnIvfAdcCompact = df("q_ann_ivfadc_compact",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val corpus = vecs.filter(col("vec_id") % 4 =!= 0)
      val batch = vecs.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val probes = vecs.filter(col("vec_id") < 20 && col("vec_id") % 4 =!= 0
        && col("vec_id") % 8 =!= 1)
      val idxDir = s"$annIdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", idxDir)
      Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", idxDir)
      Similarity.appendIvfPqResidualIndex(batch, "vec_id", "embedding", idxDir)
      val dropped = vecs.filter(col("vec_id") % 8 === 1).select("vec_id")
      val compacted = Similarity.compactIvfPqResidualIndex(
        spark, idxDir, dropIds = Some(dropped))
      val rerankPool = corpus.filter(col("vec_id") % 8 =!= 1).unionAll(batch)
      ivfAdcRerankSelect(Similarity.queryIvfPqResidual(compacted,
        rerankPool, probes, "vec_id", "embedding", k = 5, nProbe = 4, rerank = 50))
    },
    Some(ivfAdcRerankOracle(
      trainSql = "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0",
      allSql = """SELECT vec_id, embedding FROM embeddings
                 |    WHERE vec_id % 4 <> 0 AND vec_id % 8 <> 1
                 |  UNION ALL
                 |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 4 = 0""".stripMargin,
      probeWhere = "vec_id < 20 AND vec_id % 8 <> 1")))

  // Streaming vector ingest against the persisted index
  // (StreamingAnn.indexedAnnStream): two mtime-ordered micro-batches flow
  // through the search-then-append loop — batch1 searches the corpus
  // index (ADC top-5, nProbe 4) and folds in via the frozen-quantizer
  // add; batch2 then searches corpus UNION batch1 — so the match sink
  // must equal the sequential composition of queryIvfPqResidual steps.
  // The oracle replays BOTH steps (each a full centroid/codebook/codes/
  // ADC chain with the step's probes entering venc via encSql but never
  // the searchable code table) and unions them; a loop that skipped the
  // fold, reordered, searched the wrong index snapshot, or double-encoded
  // a vector hash-fails. batch2 rows are exact copies of corpus members,
  // so appended-then-searched vectors are provably reachable.
  private val qStreamAnnIndexed = df("q_stream_ann_indexed",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
        .select("vec_id", "embedding")
      val corpus = vecs.filter(col("vec_id") % 4 =!= 0)
      // fixed-size batches (vec_id < 480 exists at every sf): the streamed
      // probe volume must not scale with the fixture, or the per-trigger
      // search cost measures corpus growth twice (probes x candidates)
      val batch1 = vecs.filter(col("vec_id") % 4 === 0 && col("vec_id") < 480)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val batch2 = vecs.filter(col("vec_id") % 8 === 2 && col("vec_id") < 480)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      val base = s"$annIdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      Similarity.writeIvfPqResidualIndex(corpus, "vec_id", "embedding", s"$base/idx")
      val inDir = stageMtimeOrderedBatches(base, Seq(batch1, batch2))
      val stream = spark.readStream
        .schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = graft.streaming.StreamingAnn.indexedAnnStream(
        stream, s"$base/idx", s"$base/matches")
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$base/matches")
        .dropDuplicates("query_id", "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          col("cell").cast("bigint").as("cell"), col("l2_micro"), col("rnk"))
        .orderBy("query_id", "rnk")
    },
    Some {
      val corpusSql = "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 <> 0"
      val b1Sql = "SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 480"
      val b2Sql = "SELECT vec_id + 200000 AS vec_id, embedding FROM embeddings WHERE vec_id % 8 = 2 AND vec_id < 480"
      def step(allSql: String, encSql: String, probeSql: String) =
        s"""WITH ${ivfPqResidualOracleCtes(nProbe = 4, trainSql = corpusSql,
             allSql = allSql, encSql = Some(encSql), probeSql = Some(probeSql))}
           |SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell, l2_micro, rnk FROM (
           |  SELECT query_id, neighbor_id, cell, l2_micro,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY l2_micro ASC, neighbor_id) AS BIGINT) AS rnk
           |  FROM scored) t
           |WHERE rnk <= 5""".stripMargin
      s"""SELECT * FROM (
         |${step(corpusSql, b1Sql,
             "SELECT vec_id + 100000 AS vec_id FROM embeddings WHERE vec_id % 4 = 0 AND vec_id < 480")}
         |) s1
         |UNION ALL
         |SELECT * FROM (
         |${step(s"$corpusSql UNION ALL $b1Sql", b2Sql,
             "SELECT vec_id + 200000 AS vec_id FROM embeddings WHERE vec_id % 8 = 2 AND vec_id < 480")}
         |) s2
         |ORDER BY query_id, rnk""".stripMargin
    })

  // SemDeDup (Similarity.semDedup): embedding-space semantic dedup —
  // cluster by the IVF cell assignment, drop any vector with a lower-id
  // same-cell neighbor at cosine >= 0.35 (the corpus's planted near-dup
  // level). The oracle replays the full cluster assignment AND the
  // keep/drop decision per vector.
  private val qSemDedup = df("q_op_semdedup",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      Similarity.semDedup(vecs, "vec_id", "embedding")
        .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
          col("kept"), col("dup_of"))
        .orderBy("vec_id")
    },
    Some {
      import PipelineQueries.{duckDot, duckHp, bucketExpr}
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |    SQRT(${duckDot("embedding", "embedding")}) AS nrm,
         |    ${bucketExpr(duckHp, "embedding")} AS cell0
         |  FROM embeddings
         |), centel AS (
         |  SELECT cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM base CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY cell0, i
         |), cent AS (
         |  SELECT cid, list(m ORDER BY i) AS cvec FROM centel GROUP BY cid
         |), cent2 AS (
         |  SELECT cid, cvec, SQRT(${duckDot("cvec", "cvec")}) AS cnrm FROM cent
         |), scored AS (
         |  SELECT b.vec_id, b.embedding, b.nrm, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.cvec")} / c.cnrm DESC, c.cid) AS rr
         |  FROM base b CROSS JOIN cent2 c
         |), a AS (
         |  SELECT vec_id, embedding, nrm, cid AS cell FROM scored WHERE rr = 1
         |), drops AS (
         |  SELECT y.vec_id AS j, MIN(x.vec_id) AS dup_of
         |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ${duckDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.35
         |  GROUP BY y.vec_id
         |)
         |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
         |  d.dup_of
         |FROM a LEFT JOIN drops d ON a.vec_id = d.j
         |ORDER BY a.vec_id""".stripMargin
    })

  // Semantic sort (Similarity.semanticSort): the per-cell doc ordering is
  // fingerprinted as md5 over the id sequence in (sim_ppm DESC, id) order,
  // so the oracle validates EVERY ordering decision (cell assignment,
  // centroid cosine, tie-break) without materializing a global rank.
  private val qSemanticSort = df("q_op_semantic_sort",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      Similarity.semanticSort(vecs, "vec_id", "embedding")
        .groupBy("cell")
        .agg(count("*").cast("bigint").as("n_docs"),
          min("sim_ppm").as("min_sim"), max("sim_ppm").as("max_sim"),
          md5(expr("""ARRAY_JOIN(TRANSFORM(
            |ARRAY_SORT(COLLECT_LIST(STRUCT(-sim_ppm AS ns, vec_id))),
            |s -> CAST(s.vec_id AS STRING)), ',')""".stripMargin)).as("order_md5"))
        .orderBy("cell")
    },
    Some {
      import PipelineQueries.{duckDot, duckHp, bucketExpr}
      s"""WITH base AS (
         |  SELECT vec_id, embedding,
         |    SQRT(${duckDot("embedding", "embedding")}) AS nrm,
         |    ${bucketExpr(duckHp, "embedding")} AS cell0
         |  FROM embeddings
         |), centel AS (
         |  SELECT cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM base CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY cell0, i
         |), cent AS (
         |  SELECT cid, list(m ORDER BY i) AS cvec FROM centel GROUP BY cid
         |), cent2 AS (
         |  SELECT cid, cvec, SQRT(${duckDot("cvec", "cvec")}) AS cnrm FROM cent
         |), scored AS (
         |  SELECT b.vec_id, c.cid,
         |    ${duckDot("b.embedding", "c.cvec")} / c.cnrm AS s,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.cvec")} / c.cnrm DESC, c.cid) AS rr
         |  FROM base b CROSS JOIN cent2 c
         |), a AS (
         |  SELECT vec_id, CAST(cid AS BIGINT) AS cell,
         |    CAST(FLOOR(s * 1000000) AS BIGINT) AS sim_ppm
         |  FROM scored WHERE rr = 1
         |)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  MIN(sim_ppm) AS min_sim, MAX(sim_ppm) AS max_sim,
         |  md5(string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY sim_ppm DESC, vec_id)) AS order_md5
         |FROM a GROUP BY cell ORDER BY cell""".stripMargin
    })

  // Hard-negative mining (Similarity.hardNegatives): every (anchor, rank,
  // negative, sim_ppm) row replayed — cell assignment, cross-label pair
  // cosines, and the per-anchor (sim DESC, id) ranking boundary.
  private val qHardNegatives = df("q_op_hard_negatives",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      Similarity.hardNegatives(vecs, "vec_id", "embedding", "label", k = 3)
        .orderBy("anchor", "rank")
    },
    Some {
      import PipelineQueries.{duckDot, duckHp, bucketExpr}
      s"""WITH base AS (
         |  SELECT vec_id, label, embedding,
         |    SQRT(${duckDot("embedding", "embedding")}) AS nrm,
         |    ${bucketExpr(duckHp, "embedding")} AS cell0
         |  FROM embeddings
         |), centel AS (
         |  SELECT cell0 AS cid, i,
         |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS m
         |  FROM base CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
         |  GROUP BY cell0, i
         |), cent AS (
         |  SELECT cid, list(m ORDER BY i) AS cvec FROM centel GROUP BY cid
         |), cent2 AS (
         |  SELECT cid, cvec, SQRT(${duckDot("cvec", "cvec")}) AS cnrm FROM cent
         |), scored AS (
         |  SELECT b.vec_id, b.label, b.embedding, b.nrm, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |      ORDER BY ${duckDot("b.embedding", "c.cvec")} / c.cnrm DESC, c.cid) AS rr
         |  FROM base b CROSS JOIN cent2 c
         |), a AS (
         |  SELECT vec_id, label, embedding, nrm, cid AS cell FROM scored WHERE rr = 1
         |), pairs AS (
         |  SELECT x.vec_id AS anchor, y.vec_id AS negative,
         |    CAST(FLOOR(${duckDot("x.embedding", "y.embedding")}
         |      / (x.nrm * y.nrm) * 1000000) AS BIGINT) AS sim_ppm
         |  FROM a x JOIN a y ON x.cell = y.cell AND x.label <> y.label
         |), rk AS (
         |  SELECT anchor, negative, sim_ppm,
         |    ROW_NUMBER() OVER (PARTITION BY anchor
         |      ORDER BY sim_ppm DESC, negative) AS rank
         |  FROM pairs
         |)
         |SELECT anchor, CAST(rank AS BIGINT) AS rank, negative, sim_ppm
         |FROM rk WHERE rank <= 3 ORDER BY anchor, rank""".stripMargin
    })

  // Decontamination (Dedup.decontaminate): drop corpus docs that n-gram-
  // overlap a benchmark set. Benchmark side = doc_id % 10 == 0; the oracle
  // replays the identical band-join + integer-ppm Jaccard gate and counts
  // the survivors per source.
  private val qDecontaminate = df("q_dedup_decontaminate",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      Dedup.decontaminate(corpus, bench, "doc_id", "text", thresholdPpm = 800000L)
        .groupBy("source").agg(count("*").as("kept"))
        .orderBy("source")
    },
    Some {
      val duckSigsAll = graft.queries.PipelineQueries.duckSigsFor("documents")
      s"""$duckSigsAll, bands AS (${graft.queries.PipelineQueries.bandsDuckSql}),
         |bench AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
         |corp AS (SELECT * FROM bands WHERE doc_id % 10 <> 0),
         |cands AS (
         |  SELECT DISTINCT c.doc_id AS cid, b.doc_id AS bid
         |  FROM corp c JOIN bench b ON c.band = b.band AND c.band_key = b.band_key
         |), shs AS (SELECT doc_id, list_distinct(hvals) AS s FROM hs),
         |contaminated AS (
         |  SELECT DISTINCT cands.cid FROM cands
         |  JOIN shs x ON cands.cid = x.doc_id
         |  JOIN shs y ON cands.bid = y.doc_id
         |  WHERE (1000000 * CAST(len(list_filter(x.s, e -> list_contains(y.s, e))) AS BIGINT))
         |        // len(list_distinct(list_concat(x.s, y.s))) >= 800000
         |)
         |SELECT source, COUNT(*) AS kept
         |FROM documents
         |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT cid FROM contaminated)
         |GROUP BY source ORDER BY source""".stripMargin
    })

  // Mean pooling (Similarity.meanPool): per-label document embedding from
  // member vectors; compared on sampled elements + count. The fixed-point
  // sum / exact conversions make every cell bit-identical in DuckDB.
  private val qEmbedPool = df("q_op_embed_pool",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      Similarity.meanPool(vecs, "label", "embedding")
        .select(col("label"), col("n_vecs").cast("bigint").as("n_vecs"),
          expr("ELEMENT_AT(pooled, 1)").as("p1"),
          expr("ELEMENT_AT(pooled, 32)").as("p32"),
          expr("ELEMENT_AT(pooled, 64)").as("p64"))
        .orderBy("label")
    },
    Some("""WITH el AS (
           |  SELECT label, i,
           |    SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS m,
           |    COUNT(*) AS c
           |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) dims
           |  GROUP BY label, i
           |), pooled AS (
           |  SELECT label, list(CAST(m AS DOUBLE) / c / 1000000 ORDER BY i) AS p,
           |    CAST(MAX(c) AS BIGINT) AS n_vecs
           |  FROM el GROUP BY label
           |)
           |SELECT label, n_vecs, p[1] AS p1, p[32] AS p32, p[64] AS p64
           |FROM pooled ORDER BY label""".stripMargin))

  // Oracle-checked BPE *training*: the 8-merge loop unrolled as 8 chained
  // CTE rounds over the (tiny, vocabulary-sized) distinct-word table —
  // each round counts adjacent symbol pairs weighted by word frequency,
  // takes the argmax by (count DESC, a, b) exactly like Bpe.train's total
  // order, and applies the winning merge with the same space-wrapped
  // replace trick the encode oracle proves sound (left-to-right
  // non-overlapping replace == mergeOnce's greedy scan). batch=1 training
  // is sequential, so round r's CTE state equals the Scala loop's state.
  private val bpeTrainOracle: String = {
    val nMerges = 8
    val rounds = (1 to nMerges).map { r =>
      s"""p$r AS (
         |  SELECT a, b, SUM(freq) AS cnt FROM (
         |    SELECT freq,
         |      unnest(list_slice(syms, 1, len(syms) - 1)) AS a,
         |      unnest(list_slice(syms, 2, len(syms))) AS b
         |    FROM (SELECT string_split(trim(s), '  ') AS syms, freq FROM w${r - 1}))
         |  GROUP BY a, b
         |), t$r AS (
         |  SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1
         |), w$r AS (
         |  SELECT replace(w.s, ' ' || t.a || '  ' || t.b || ' ',
         |                 ' ' || t.a || t.b || ' ') AS s, w.freq
         |  FROM w${r - 1} w CROSS JOIN t$r t
         |)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to nMerges)
      .map(r => s"SELECT CAST(${r - 1} AS BIGINT) AS merge_rank, a, b FROM t$r")
      .mkString("\nUNION ALL\n")
    s"""WITH vocab AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
       |  ) WHERE w <> '' GROUP BY w
       |), w0 AS (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w> ' AS s, freq
       |  FROM vocab
       |),
       |$rounds
       |$ranks
       |ORDER BY merge_rank""".stripMargin
  }

  private val qBpeApi = df("q_op_bpe_api",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 8)
      import spark.implicits._
      merges.toDF()
        .select(col("rank").cast("bigint").as("merge_rank"), col("a"), col("b"))
        .orderBy("merge_rank")
    },
    Some(bpeTrainOracle))

  // Oracle-checked BPE *encode*: apply a FIXED literal merge list (so the
  // oracle needs no training) with Bpe.encode; DuckDB replays the same
  // merges over a space-wrapped symbol string — each symbol rendered as
  // " sym ", so left-to-right non-overlapping replace(' a  b ', ' ab ')
  // is exactly mergeOnce's greedy scan (adjacent matches never share a
  // delimiter because every symbol carries its own leading AND trailing
  // space). Sound because the corpus is ASCII lowercase with no '<'/'>'
  // (no collision with the </w> marker) and symbols never contain spaces.
  // The list chains merges (t+h -> th, th+e</w> -> the</w>) to exercise
  // merge ordering. Reference tokenizer contract: same greedy lowest-rank-
  // first application as Sennrich-style BPE.
  private val bpeFixedMerges = Seq(
    Bpe.Merge(0, "e", Bpe.EndOfWord), Bpe.Merge(1, "t", "h"),
    Bpe.Merge(2, "th", "e" + Bpe.EndOfWord), Bpe.Merge(3, "s", Bpe.EndOfWord),
    Bpe.Merge(4, "i", "n"), Bpe.Merge(5, "a", "n"),
    Bpe.Merge(6, "an", Bpe.EndOfWord), Bpe.Merge(7, "o", "r"))

  private val qBpeEncode = df("q_op_bpe_encode",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      Bpe.encode(docs, "doc_id", "text", bpeFixedMerges)
        .select(col("doc_id"), array_join(col("tokens"), "|").as("toks"),
          col("n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val replaced = bpeFixedMerges.sortBy(_.rank).foldLeft(
        "' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w> '") {
        case (acc, m) => s"replace($acc, ' ${m.a}  ${m.b} ', ' ${m.a}${m.b} ')"
      }
      s"""WITH enc AS (
         |  SELECT doc_id, flatten(list_transform(
         |    list_filter(string_split(lower(text), ' '), w -> w <> ''),
         |    w -> string_split(trim($replaced), '  '))) AS toks
         |  FROM documents)
         |SELECT doc_id, array_to_string(toks, '|') AS toks,
         |  CAST(len(toks) AS BIGINT) AS n_tokens
         |FROM enc ORDER BY doc_id""".stripMargin
    })

  // Video container decode (Multimodal.decodeVideo): real RIFF/AVI chunk
  // walking over the ASCII-payload fixture — geometry from avih, every
  // extracted frame's byte length and md5 replayed closed-form in DuckDB.
  // The MJPEG path (frames decoded by ImageIO) is spec-covered; this query
  // pins the container layer the driver can replay without a codec.
  private val qMultimodalVideo = df("q_op_multimodal_video",
    (spark, dir) => {
      implicit val s = spark
      val docs = Tables.table(spark, dir, "documents").filter(col("doc_id") < 40)
      val media = Multimodal.syntheticAviAsciiTable(docs, "doc_id", k = 4)
      Multimodal.decodeVideo(media).toDF()
        .select(col("id").as("doc_id"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          col("n_frames").cast("bigint").as("n_frames"),
          col("frame_idx").cast("bigint").as("frame_idx"),
          col("frame_bytes"), col("frame_md5"))
        .repartition(1).sortWithinPartitions("doc_id", "frame_idx")
    },
    Some("""WITH ids AS (
           |  SELECT doc_id FROM documents WHERE doc_id < 40
           |), f AS (
           |  SELECT doc_id, g.i,
           |    repeat('frame:' || doc_id || ':' || g.i || ':',
           |      CAST(3 + (doc_id + g.i) % 5 AS INT)) AS s
           |  FROM ids, LATERAL (SELECT unnest(range(0, 4)) AS i) g
           |)
           |SELECT doc_id,
           |  CAST(64 + (doc_id * 7) % 64 AS BIGINT) AS width,
           |  CAST(48 + (doc_id * 13) % 48 AS BIGINT) AS height,
           |  CAST(4 AS BIGINT) AS n_frames,
           |  CAST(i AS BIGINT) AS frame_idx,
           |  CAST(length(s) AS BIGINT) AS frame_bytes,
           |  md5(s) AS frame_md5
           |FROM f ORDER BY doc_id, frame_idx""".stripMargin))

  // End-to-end tokenize -> pack: REAL per-doc token counts from the BPE
  // encoder feed first-fit-decreasing packing — the composition a training
  // batch builder actually runs (counting whitespace tokens under-fills
  // sequences; counting tokenizer output is the contract). Oracle chains
  // the proven BPE-encode replay into the proven FFD recursive CTE.
  private val qTokenizePack = df("q_pipeline_tokenize_pack",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val enc = Bpe.encode(docs, "doc_id", "text", bpeFixedMerges)
        .select(col("doc_id"), col("n_tokens"))
      graft.operators.Packing.packFfd(enc, "doc_id", "n_tokens",
          budget = 1024L, blockSize = 100L)
        .join(enc, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("pack_block"), col("ffd_bin"))
        .orderBy("doc_id")
    },
    Some {
      val replaced = bpeFixedMerges.sortBy(_.rank).foldLeft(
        "' ' || regexp_replace(w, '(.)', '\\1  ', 'g') || '</w> '") {
        case (acc, m) => s"replace($acc, ' ${m.a}  ${m.b} ', ' ${m.a}${m.b} ')"
      }
      s"""WITH RECURSIVE enc AS (
         |  SELECT doc_id, CAST(len(flatten(list_transform(
         |    list_filter(string_split(lower(text), ' '), w -> w <> ''),
         |    w -> string_split(trim($replaced), '  ')))) AS BIGINT) AS tok
         |  FROM documents
         |), ranked AS (
         |  SELECT doc_id AS id, tok, doc_id // 100 AS blk,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id // 100 ORDER BY tok DESC, doc_id) AS rn
         |  FROM enc
         |), fold AS (
         |  SELECT blk, rn, id, tok, CAST(1 AS BIGINT) AS bin, [1024 - tok] AS rems
         |  FROM ranked WHERE rn = 1
         |  UNION ALL
         |  SELECT r.blk, r.rn, r.id, r.tok,
         |    CASE WHEN p.pos = 0 THEN CAST(len(f.rems) + 1 AS BIGINT)
         |         ELSE CAST(p.pos AS BIGINT) END,
         |    CASE WHEN p.pos = 0 THEN list_append(f.rems, 1024 - r.tok)
         |         ELSE list_transform(f.rems,
         |           (x, i) -> CASE WHEN i = p.pos THEN x - r.tok ELSE x END) END
         |  FROM fold f
         |  JOIN ranked r ON r.blk = f.blk AND r.rn = f.rn + 1
         |  CROSS JOIN LATERAL (
         |    SELECT list_position(list_transform(f.rems, x -> x >= r.tok), true) AS pos) p
         |)
         |SELECT id AS doc_id, tok AS n_tokens, blk AS pack_block, bin AS ffd_bin
         |FROM fold ORDER BY doc_id""".stripMargin
    })

  private val qMultimodalApi = df("q_op_multimodal_api",
    (spark, dir) => {
      implicit val s = spark
      val docs = Tables.table(spark, dir, "documents")
      val media = Multimodal.asMediaTable(docs, "doc_id", "text")
      Multimodal.decodeStub(media).toDF()
        .select(col("id").as("doc_id"), col("n_bytes"),
          substring(col("magic"), 1, 16).as("magic"),
          col("width").cast("bigint").as("width"))
        .orderBy("doc_id")
    },
    // bytes of ASCII text == chars; magic = first 8 bytes hex; width is the
    // stub decoder's poly31-derived fake dimension
    Some(s"""SELECT doc_id,
            |  CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
            |  LOWER(SUBSTR(hex(CAST(text AS BLOB)), 1, 16)) AS magic,
            |  ${duckPoly31Bytes} % 640 + 32 AS width
            |FROM documents ORDER BY doc_id""".stripMargin))

  private def duckPoly31Bytes: String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), (a, c) -> (a * 31 + c) % 1000000007)"

  // Skew.saltedJoin spreads a hot join key over N salt partitions; the
  // result must equal the plain inner join, so the oracle is just that
  // join (reference skew handling: SCATTERED_HASH_SHUFFLE, querymaster/
  // Repartitioner.java:1098).
  private val qSaltedJoin = df("q_op_salted_join",
    (spark, dir) => {
      val li = Tables.table(spark, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_quantity")
      Skew.saltedJoin(
          li.withColumnRenamed("l_suppkey", "k"),
          Tables.table(spark, dir, "supplier")
            .select(col("s_suppkey").as("k"), col("s_name")),
          "k", salts = 8)
        .groupBy("s_name")
        .agg(count("*").as("cnt"),
          sum(col("l_quantity").cast("decimal(38,4)")).cast("double").as("qty"))
        .orderBy("s_name")
    },
    Some("""SELECT s_name, COUNT(*) AS cnt,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS qty
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           |GROUP BY s_name ORDER BY s_name""".stripMargin))

  // As-of join (extension — neither reference nor Spark has the operator;
  // DuckDB's native ASOF LEFT JOIN is the oracle): latest order at or
  // before each event, per user.
  private val qAsofJoin = df("q_op_asof_join",
    (spark, dir) => {
      val events = Tables.table(spark, dir, "events")
        .select("event_id", "user_id", "ts")
      // one row per (key, time) so tie-breaking matches the oracle exactly
      val orders = Tables.table(spark, dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
      AsofJoin.asofJoin(events, orders,
          "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("last_order"))
        .orderBy("event_id")
    },
    Some("""WITH o AS (
           |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
           |  FROM orders GROUP BY o_custkey, o_orderdate
           |)
           |SELECT e.event_id, e.user_id, o.o_orderkey AS last_order
           |FROM events e ASOF LEFT JOIN o
           |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
           |ORDER BY e.event_id""".stripMargin))

  // Range join (point-in-interval) via time-grid bucketing: events inside
  // each customer's 30-day post-order window. Oracle is the naive
  // BETWEEN join, so the hash match proves the bucketed rewrite exact.
  private val qRangeJoin = df("q_op_range_join",
    (spark, dir) => {
      val events = Tables.table(spark, dir, "events")
        .select("event_id", "user_id", "ts")
      // windows open at each purchase and stay open one hour — same table,
      // same time range, so the result is non-empty (2k+ pairs at sf0.01)
      // and the driver oracle actually exercises the bucketing + residual
      val windows = Tables.table(spark, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("w_id"), col("user_id").as("w_user"),
          col("ts").as("w_start"), expr("ts + INTERVAL 1 HOUR").as("w_end"))
      RangeJoin.pointInInterval(events, windows,
          "user_id", "w_user", "ts", "w_start", "w_end", bucket = "1 hour")
        .groupBy("event_id")
        .agg(count("*").as("n_windows"), min("w_id").as("first_window"))
        .orderBy("event_id")
    },
    Some("""WITH w AS (
           |  SELECT event_id AS w_id, user_id AS w_user, ts AS w_start,
           |         ts + INTERVAL 1 HOUR AS w_end
           |  FROM events WHERE event_type = 'purchase'
           |)
           |SELECT e.event_id, COUNT(*) AS n_windows, MIN(w.w_id) AS first_window
           |FROM events e JOIN w
           |  ON e.user_id = w.w_user
           | AND e.ts >= w.w_start
           | AND e.ts <= w.w_end
           |GROUP BY e.event_id
           |ORDER BY e.event_id""".stripMargin))

  private val qStreamHourly = df("q_stream_hourly",
    (spark, dir) => {
      val agg = EventStreams.hourlyCounts(EventStreams.readEvents(spark, dir))
      EventStreams.runToMemoryTable(agg, "graft_stream_hourly")
        .orderBy("hour", "event_type")
    },
    Some("""SELECT DATE_TRUNC('HOUR', ts) AS hour, event_type, COUNT(*) AS cnt,
           |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
           |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  // Entity resolution (EntityResolution.resolve): blocked fuzzy matching —
  // prefix+length-bucket blocking, in-block Levenshtein, best match per
  // left record. The right system is the left with deterministic tail
  // typos (replace / drop / append), so matches, misses, and length-bucket
  // boundaries all occur; the oracle replays blocking, scoring, and the
  // best-match window.
  private def erNameSql(div: String) =
    s"'u' || (doc_id $div 2) || 'x' || lang"
  // Shared DuckDB replay of the ER fixture + blocking + Levenshtein +
  // best-match window, ending in a `best` CTE (lid, rid, dist, rn).
  private val erOracleBase: String =
    """l AS (
      |  SELECT doc_id AS lid, 'u' || (doc_id // 2) || 'x' || lang AS nl
      |  FROM documents WHERE doc_id % 2 = 0
      |), r0 AS (
      |  SELECT doc_id + 100000 AS rid, 'u' || (doc_id // 2) || 'x' || lang AS u
      |  FROM documents WHERE doc_id % 2 = 1
      |), r AS (
      |  SELECT rid, CASE (rid % 3)
      |    WHEN 0 THEN SUBSTR(u, 1, LENGTH(u) - 1) || '_'
      |    WHEN 1 THEN SUBSTR(u, 1, LENGTH(u) - 1)
      |    ELSE u || 'q'
      |  END AS nr FROM r0
      |), lb AS (
      |  SELECT lid, nl, b FROM (
      |    SELECT lid, nl,
      |      LOWER(SUBSTR(nl, 1, 4)) || '|' || (GREATEST(0, LENGTH(nl) - 2) // 4) AS b1,
      |      LOWER(SUBSTR(nl, 1, 4)) || '|' || ((LENGTH(nl) + 2) // 4) AS b2
      |    FROM l
      |  ), LATERAL (SELECT UNNEST(list_distinct([b1, b2])) AS b)
      |), rb AS (
      |  SELECT rid, nr, LOWER(SUBSTR(nr, 1, 4)) || '|' || (LENGTH(nr) // 4) AS b FROM r
      |), scored AS (
      |  SELECT lb.lid, rb.rid, levenshtein(lb.nl, rb.nr) AS dist
      |  FROM lb JOIN rb USING (b)
      |  WHERE levenshtein(lb.nl, rb.nr) <= 2
      |), best AS (
      |  SELECT lid, rid, dist,
      |    row_number() OVER (PARTITION BY lid ORDER BY dist, rid) AS rn
      |  FROM scored
      |)""".stripMargin

  /** Shared Spark-side ER fixture (the oracle mirror is [[erOracleBase]]):
    * even docs on the left, odd docs shifted +100000 on the right with a
    * deterministic per-id name mutation. ONE construction site so both ER
    * queries audit the identical fixture. */
  private def erFixture(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.table(spark, dir, "documents")
    val leftE = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("id"), expr(erNameSql("DIV")).as("name"))
    val rightE = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 100000L).as("id"), expr(erNameSql("DIV")).as("u"))
      .select(col("id"), expr(
        """CASE (id % 3)
          |  WHEN 0 THEN SUBSTR(u, 1, LENGTH(u) - 1) || '_'
          |  WHEN 1 THEN SUBSTR(u, 1, LENGTH(u) - 1)
          |  ELSE u || 'q'
          |END""".stripMargin).as("name"))
    (leftE, rightE)
  }

  private val qEntityRes = df("q_op_entity_resolution",
    (spark, dir) => {
      import graft.operators.EntityResolution
      val (leftE, rightE) = erFixture(spark, dir)
      EntityResolution.resolve(leftE, rightE, "id", "id", "name", "name")
        .orderBy("lid")
    },
    Some(s"""WITH $erOracleBase
            |SELECT lid, rid, CAST(dist AS BIGINT) AS dist
            |FROM best WHERE rn = 1 ORDER BY lid""".stripMargin))

  // Golden-record composition: ER matches -> transitive duplicate
  // clusters -> one canonical record per entity cluster (the keeper's
  // name, the cluster size). The oracle chains the full ER replay into
  // the recursive-CTE closure and the canonical-record pick.
  private val qGoldenRecord = df("q_op_golden_record",
    (spark, dir) => {
      import graft.operators.EntityResolution
      val (leftE, rightE) = erFixture(spark, dir)
      val matches = EntityResolution.resolve(leftE, rightE, "id", "id", "name", "name")
      val clusters = Dedup.duplicateClusters(
        matches.select(col("lid").as("d1"), col("rid").as("d2")))
      val entities = leftE.unionAll(rightE)
      clusters.groupBy("keeper").agg(count(lit(1)).as("n_members"))
        .join(entities, col("keeper") === col("id"))
        .select(col("keeper"), col("n_members").cast("bigint").as("n_members"),
          col("name").as("canonical_name"))
        .orderBy("keeper")
    },
    Some(s"""WITH RECURSIVE $erOracleBase,
            |edges AS (
            |  SELECT lid AS a, rid AS b FROM best WHERE rn = 1
            |  UNION SELECT rid, lid FROM best WHERE rn = 1
            |), reach AS (
            |  SELECT a, b FROM edges
            |  UNION
            |  SELECT t.a, e.b FROM reach t JOIN edges e ON t.b = e.a
            |), keepers AS (
            |  SELECT a AS id, LEAST(a, MIN(b)) AS keeper FROM reach GROUP BY a
            |), ent AS (
            |  SELECT lid AS id, nl AS name FROM l
            |  UNION ALL SELECT rid, nr FROM r
            |)
            |SELECT k.keeper, CAST(COUNT(*) AS BIGINT) AS n_members,
            |  e.name AS canonical_name
            |FROM keepers k JOIN ent e ON e.id = k.keeper
            |GROUP BY k.keeper, e.name ORDER BY k.keeper""".stripMargin))

  // Data-quality gates (DataQuality.*): per-column profile + the
  // uniqueness / referential-integrity / range checks a pipeline asserts
  // before a snapshot is consumed. Both queries are exact aggregations /
  // anti-joins with string-rendered extrema, replayed in DuckDB.
  private val qDqProfile = df("q_op_dq_profile",
    (spark, dir) => {
      import graft.operators.DataQuality
      val orders = Tables.table(spark, dir, "orders")
      DataQuality.profile(orders,
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
        .orderBy("col_name")
    },
    Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_v, CAST(MAX($c) AS VARCHAR) AS max_v
           |FROM orders""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")))

  private val qDqChecks = df("q_op_dq_checks",
    (spark, dir) => {
      import graft.operators.DataQuality
      val orders = Tables.table(spark, dir, "orders")
      val customer = Tables.table(spark, dir, "customer")
      val lineitem = Tables.table(spark, dir, "lineitem")
      val u = DataQuality.checkUnique(orders, Seq("o_orderkey"))
        .select(col("rule"), col("n_dup_keys").as("n_bad"),
          col("sample_key").as("detail"), col("pass"))
      val fk1 = DataQuality.checkRefIntegrity(orders, "o_custkey", customer, "c_custkey")
        .select(col("rule"), col("n_orphans").as("n_bad"),
          col("sample_key").as("detail"), col("pass"))
      val fk2 = DataQuality.checkRefIntegrity(lineitem, "l_orderkey", orders, "o_orderkey")
        .select(col("rule"), col("n_orphans").as("n_bad"),
          col("sample_key").as("detail"), col("pass"))
      val rngPass = DataQuality.checkRange(orders, "o_custkey", 0L, 1000000L)
        .select(col("rule"), col("n_violations").as("n_bad"),
          col("n_rows").cast("string").as("detail"), col("pass"))
      val rngFail = DataQuality.checkRange(orders, "o_orderkey", 0L, 10L)
        .select(col("rule"), col("n_violations").as("n_bad"),
          col("n_rows").cast("string").as("detail"), col("pass"))
      u.unionAll(fk1).unionAll(fk2).unionAll(rngPass).unionAll(rngFail)
        .orderBy("rule")
    },
    Some("""SELECT 'o_orderkey' AS rule,
           |  CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS n_bad,
           |  COALESCE(CAST(MIN(k) AS VARCHAR), '') AS detail,
           |  COUNT(*) = 0 AS pass
           |FROM (SELECT COALESCE(CAST(o_orderkey AS VARCHAR), '<null>') AS k FROM orders
           |      GROUP BY o_orderkey HAVING COUNT(*) > 1)
           |UNION ALL
           |SELECT 'o_custkey->c_custkey',
           |  CAST(COUNT(*) AS BIGINT),
           |  COALESCE(CAST(MIN(o_custkey) AS VARCHAR), ''), COUNT(*) = 0
           |FROM orders WHERE o_custkey IS NOT NULL
           |  AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
           |UNION ALL
           |SELECT 'l_orderkey->o_orderkey',
           |  CAST(COUNT(*) AS BIGINT),
           |  COALESCE(CAST(MIN(l_orderkey) AS VARCHAR), ''), COUNT(*) = 0
           |FROM lineitem WHERE l_orderkey IS NOT NULL
           |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
           |UNION ALL
           |SELECT 'o_custkey in [0,1000000]',
           |  CAST(SUM(CASE WHEN o_custkey IS NULL OR o_custkey < 0 OR o_custkey > 1000000
           |    THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(COUNT(*) AS VARCHAR),
           |  SUM(CASE WHEN o_custkey IS NULL OR o_custkey < 0 OR o_custkey > 1000000
           |    THEN 1 ELSE 0 END) = 0
           |FROM orders
           |UNION ALL
           |SELECT 'o_orderkey in [0,10]',
           |  CAST(SUM(CASE WHEN o_orderkey IS NULL OR o_orderkey < 0 OR o_orderkey > 10
           |    THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(COUNT(*) AS VARCHAR),
           |  SUM(CASE WHEN o_orderkey IS NULL OR o_orderkey < 0 OR o_orderkey > 10
           |    THEN 1 ELSE 0 END) = 0
           |FROM orders
           |ORDER BY rule""".stripMargin))

  // WordPiece greedy encode (WordPiece.vocab/encode): the BERT-family
  // tokenizer next to BPE. The oracle replays BOTH halves in DuckDB — the
  // deterministic vocab derivation (chars + top words/prefixes/
  // continuations with explicit tie-breaks) and the greedy longest-match
  // walk itself via a recursive CTE whose step picks the longest matching
  // piece with a correlated ORDER BY length DESC LIMIT 1.
  private val qWordPiece = df("q_op_wordpiece",
    (spark, dir) => {
      import graft.operators.WordPiece
      import spark.implicits._
      val docs = Tables.table(spark, dir, "documents")
      val v = WordPiece.vocab(docs, "text").as[(String, Boolean)].collect().toSeq
      WordPiece.encode(docs, "doc_id", "text", v)
        .select(explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
        .orderBy("piece")
    },
    Some("""WITH RECURSIVE toks AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
           |), words AS (
           |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
           |  WHERE w <> '' GROUP BY w
           |), chars AS (
           |  SELECT DISTINCT substr(w, g.i, 1) AS p
           |  FROM words, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) g
           |), topw AS (
           |  SELECT w AS p FROM words ORDER BY freq DESC, w LIMIT 30
           |), pref2 AS (
           |  SELECT p FROM (
           |    SELECT substr(w, 1, 2) AS p, SUM(freq) AS s FROM words
           |    WHERE length(w) >= 2 GROUP BY 1
           |  ) ORDER BY s DESC, p LIMIT 30
           |), cont2 AS (
           |  SELECT p FROM (
           |    SELECT substr(w, g.i, 2) AS p, SUM(freq) AS s
           |    FROM words, LATERAL (SELECT unnest(range(2, length(w))) AS i) g
           |    WHERE length(w) >= 3 GROUP BY 1
           |  ) ORDER BY s DESC, p LIMIT 30
           |), vocab AS (
           |  SELECT DISTINCT p, TRUE AS ini FROM (
           |    SELECT p FROM chars UNION ALL SELECT p FROM topw UNION ALL SELECT p FROM pref2)
           |  UNION ALL
           |  SELECT DISTINCT p, FALSE FROM (
           |    SELECT p FROM chars UNION ALL SELECT p FROM cont2)
           |), enc AS (
           |  SELECT doc_id, w, 1 AS pos, CAST(NULL AS VARCHAR) AS piece FROM toks
           |  UNION ALL
           |  SELECT e.doc_id, e.w,
           |    e.pos + length((SELECT v.p FROM vocab v
           |      WHERE v.ini = (e.pos = 1)
           |        AND substr(e.w, e.pos, length(v.p)) = v.p
           |      ORDER BY length(v.p) DESC, v.p LIMIT 1)),
           |    (SELECT v.p FROM vocab v
           |      WHERE v.ini = (e.pos = 1)
           |        AND substr(e.w, e.pos, length(v.p)) = v.p
           |      ORDER BY length(v.p) DESC, v.p LIMIT 1)
           |  FROM enc e WHERE e.pos <= length(e.w)
           |)
           |SELECT CASE WHEN pos - length(piece) = 1 THEN piece
           |            ELSE '##' || piece END AS piece,
           |  CAST(COUNT(*) AS BIGINT) AS cnt
           |FROM enc WHERE piece IS NOT NULL
           |GROUP BY 1 ORDER BY piece""".stripMargin))

  // Distributed Lloyd k-means (KMeans.lloyd): 3 full training iterations
  // in fixed-point BIGINT, replayed bit-for-bit by generated unrolled
  // DuckDB CTEs (the pageRank/perceptron discipline) — any assignment,
  // tie-break, centroid-mean, or empty-cluster deviation hash-mismatches.
  private val qKmeans = df("q_op_kmeans",
    (spark, dir) => {
      val vecs = Tables.table(spark, dir, "embeddings")
      graft.operators.KMeans.lloyd(vecs, "vec_id", "embedding", k = 8, iters = 3)
        .select(col("vec_id"), col("cluster").cast("bigint").as("cluster"),
          col("dist").cast("bigint").as("dist"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ev AS (
            |  SELECT vec_id, list_transform(embedding,
            |    x -> CAST(FLOOR((CAST(x AS DOUBLE) + 2) * 1000000) AS BIGINT)) AS e
            |  FROM embeddings
            |),
            |${graft.operators.KMeans.oracleCtes(k = 8, iters = 3, dims = 64)}
            |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
            |  CAST(dist AS BIGINT) AS dist
            |FROM assign3 ORDER BY vec_id""".stripMargin))

  // Weighted sampling without replacement (Sampling.weightedSample):
  // priority sampling — pri = w * 2^32 DIV (knuth32(id) + 1), top-k by
  // priority — integer-exact, so the oracle replays the identical
  // arithmetic and LIMIT.
  private val qWeightedSample = df("q_op_weighted_sample",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      Sampling.weightedSample(docs, "doc_id", "n_chars", 50)
        .select(col("doc_id"), col("n_chars"), col("sample_pri"))
        .orderBy(col("sample_pri").desc, col("doc_id"))
    },
    Some("""SELECT doc_id, n_chars,
           |  (LEAST(n_chars, 2147483647) * 4294967296) //
           |  (((doc_id % 1000000007) * 2654435761) % 4294967296 + 1) AS sample_pri
           |FROM documents WHERE n_chars > 0
           |ORDER BY sample_pri DESC, doc_id LIMIT 50""".stripMargin))

  // Interval-overlap join (RangeJoin.intervalOverlap): click attention
  // windows vs purchase windows for the same user — each overlapping pair
  // meets exactly once in its canonical grid bucket (the later interval's
  // start bucket), so the grid join needs no post-dedup. The oracle is the
  // plain overlap join.
  // The scalable spelling of q_join_nonequi (RangeJoin.cdfCountJoin):
  // same result as the `supplier JOIN part ON p_retailprice < s_acctbal`
  // theta join — which Spark can only plan as a nested loop, measured
  // exponent 1.69/decade at the sf1 stress — via right-side bucket
  // counts + a bounded prefix sum + a one-bucket residual join. The
  // oracle is the IDENTICAL quadratic SQL, so the linear plan is proven
  // equal to the theta join row for row.
  private val qJoinNonEquiCdf = df("q_join_nonequi_cdf",
    (spark, dir) => {
      import graft.operators.RangeJoin
      val supplier = Tables.table(spark, dir, "supplier")
      val part = Tables.table(spark, dir, "part")
      RangeJoin.cdfCountJoin(supplier, "s_suppkey", "s_acctbal",
          part, "p_retailprice", bucketWidth = 5.0, asCol = "cheaper_parts")
        .filter(col("cheaper_parts") > 0) // inner-join semantics of the oracle
        .select(col("s_suppkey"), col("cheaper_parts"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, COUNT(*) AS cheaper_parts
           |FROM supplier JOIN part ON p_retailprice < s_acctbal
           |GROUP BY s_suppkey
           |ORDER BY s_suppkey""".stripMargin))

  private val qIntervalJoin = df("q_op_interval_join",
    (spark, dir) => {
      val clicks = Tables.table(spark, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_start"), expr("ts + INTERVAL 45 MINUTE").as("c_end"))
      val purchases = Tables.table(spark, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
          col("ts").as("p_start"), expr("ts + INTERVAL 30 MINUTE").as("p_end"))
      RangeJoin.intervalOverlap(clicks, purchases,
          "user_id", "p_user", "c_start", "c_end", "p_start", "p_end",
          bucket = "1 hour")
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_overlaps"), min("purchase_id").as("first_purchase"))
        .orderBy("click_id")
    },
    Some("""WITH l AS (
           |  SELECT event_id AS click_id, user_id, ts AS c_start,
           |         ts + INTERVAL 45 MINUTE AS c_end
           |  FROM events WHERE event_type = 'click'
           |), r AS (
           |  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_start,
           |         ts + INTERVAL 30 MINUTE AS p_end
           |  FROM events WHERE event_type = 'purchase'
           |)
           |SELECT l.click_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           |       MIN(r.purchase_id) AS first_purchase
           |FROM l JOIN r
           |  ON l.user_id = r.p_user
           | AND l.c_start <= r.p_end AND r.p_start <= l.c_end
           |GROUP BY l.click_id
           |ORDER BY l.click_id""".stripMargin))

  // Unigram-LM tokenizer (Unigram.vocab/encode): Viterbi-style DP
  // segmentation — min piece count, then max integer score, then
  // leftmost-longest — vs WordPiece's greedy commit. The oracle replays
  // BOTH halves: the integer-scored vocab (chars + top substrings by
  // occurrence-mass × length) and the DP itself — a backward recursive
  // CTE carrying the dp arrays, then a forward walk that reconstructs
  // the unique optimal segmentation piece by piece.
  // Shared DuckDB replay of the Unigram vocab derivation: toks, words,
  // chars (p, s), multi, vocab (p, s).
  private val unigramVocabCtes: String =
    """toks AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |), words AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
      |  WHERE w <> '' GROUP BY w
      |), chars AS (
      |  SELECT substr(w, g.i, 1) AS p, SUM(freq) AS s
      |  FROM words, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) g
      |  GROUP BY 1
      |), multi AS (
      |  SELECT p, s FROM (
      |    SELECT substr(w, g.i, k.k) AS p, SUM(freq * k.k) AS s
      |    FROM words,
      |      (SELECT unnest([2, 3]) AS k) k,
      |      LATERAL (SELECT unnest(range(1, length(w) - k.k + 2)) AS i) g
      |    WHERE length(w) >= k.k GROUP BY 1
      |  ) ORDER BY s DESC, p LIMIT 40
      |), vocab AS (
      |  SELECT p, CAST(s AS BIGINT) AS s FROM chars
      |  UNION ALL
      |  SELECT p, CAST(s AS BIGINT) FROM multi
      |)""".stripMargin

  private val qUnigram = df("q_op_unigram",
    (spark, dir) => {
      import graft.operators.Unigram
      import spark.implicits._
      val docs = Tables.table(spark, dir, "documents")
      val v = Unigram.vocab(docs, "text").as[(String, Long)].collect().toSeq
      Unigram.encode(docs, "doc_id", "text", v)
        .select(explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
        .orderBy("piece")
    },
    Some(s"""WITH RECURSIVE $unigramVocabCtes,
            |${graft.operators.Unigram.oracleDpCtes("vocab", "0")}
            |SELECT wp.piece, CAST(SUM(wd.freq) AS BIGINT) AS cnt
            |FROM (SELECT w, piece FROM walk0 WHERE piece IS NOT NULL) wp
            |JOIN words wd USING (w)
            |GROUP BY 1 ORDER BY piece""".stripMargin))

  // One EM-style refinement round (Unigram.refine): segment with the
  // MDL-scored vocab, re-score every piece by actual usage, drop unused
  // multi-char pieces, re-segment. The oracle chains TWO full DP replays
  // with the usage-count M-step between them.
  private val qUnigramEm = df("q_op_unigram_em",
    (spark, dir) => {
      import graft.operators.Unigram
      import spark.implicits._
      val docs = Tables.table(spark, dir, "documents")
      val v0 = Unigram.vocab(docs, "text").as[(String, Long)].collect().toSeq
      val v1 = Unigram.refine(docs, "doc_id", "text", v0)
      Unigram.encode(docs, "doc_id", "text", v1)
        .select(explode(col("pieces")).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("cnt"))
        .orderBy("piece")
    },
    Some(s"""WITH RECURSIVE $unigramVocabCtes,
            |${graft.operators.Unigram.oracleDpCtes("vocab", "0")},
            |usage AS (
            |  SELECT wp.piece AS p, CAST(SUM(wd.freq) AS BIGINT) AS s
            |  FROM (SELECT w, piece FROM walk0 WHERE piece IS NOT NULL) wp
            |  JOIN words wd USING (w) GROUP BY 1
            |), vocab2 AS (
            |  SELECT c.p, COALESCE(u.s, 0) AS s
            |  FROM chars c LEFT JOIN usage u ON u.p = c.p
            |  UNION ALL
            |  SELECT u.p, u.s FROM usage u WHERE length(u.p) >= 2
            |),
            |${graft.operators.Unigram.oracleDpCtes("vocab2", "1")}
            |SELECT wp.piece, CAST(SUM(wd.freq) AS BIGINT) AS cnt
            |FROM (SELECT w, piece FROM walk1 WHERE piece IS NOT NULL) wp
            |JOIN words wd USING (w)
            |GROUP BY 1 ORDER BY piece""".stripMargin))

  // Streaming distinct-count via mergeable HLL sketches (EventStreams.
  // hourlyDistinctUsers): per-hour state is one k-byte sketch, not a user
  // set. Exact oracle is legitimate in the sparse coupon regime (see the
  // operator scaladoc + SketchesSpec pin).
  private val qStreamDistinct = df("q_stream_distinct",
    (spark, dir) => {
      val agg = EventStreams.hourlyDistinctUsers(EventStreams.readEvents(spark, dir))
      EventStreams.runToMemoryTable(agg, "graft_stream_distinct")
        .orderBy("hour")
    },
    Some("""SELECT DATE_TRUNC('HOUR', ts) AS hour,
           |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_est
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin))

  // Streaming count-min heavy hitters (EventStreams.userCountMinCounters):
  // sketch state is depth x width rows no matter the stream length; the
  // stream-built counters estimate the top-20 users and the oracle replays
  // the IDENTICAL plane arithmetic batch-side (collisions and all).
  private val qStreamCountMin = df("q_stream_countmin",
    (spark, dir) => {
      import graft.operators.Sketches
      val counters = EventStreams.runToMemoryTable(
        EventStreams.userCountMinCounters(EventStreams.readEvents(spark, dir)),
        "graft_stream_cms")
      val events = graft.engine.Tables.table(spark, dir, "events")
      val top = events.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("user_id")).limit(20)
        .withColumn("h",
          pmod(col("user_id"), lit(Sketches.CmsP)) * lit(2654435761L % Sketches.CmsP)
            % Sketches.CmsP)
      Sketches.countMinEstimate(counters, top, "h")
        .select(col("user_id"), col("exact_n"), col("cms_est"))
        .orderBy("user_id")
    },
    Some("""WITH occ AS (
           |  SELECT ((user_id % 1000000007 + 1000000007) % 1000000007) * 654435747 % 1000000007 AS h FROM events
           |), plane(j, a, b) AS (
           |  VALUES (0, 1299709, 104729), (1, 15485863, 1299721), (2, 32452843, 15485867)
           |), cnt AS (
           |  SELECT p.j, ((p.a * o.h + p.b) % 1000000007) % 512 AS bucket,
           |    CAST(COUNT(*) AS BIGINT) AS c
           |  FROM occ o, plane p GROUP BY 1, 2
           |), top AS (
           |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n FROM events
           |  GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 20
           |), qh AS (
           |  SELECT user_id, exact_n, ((user_id % 1000000007 + 1000000007) % 1000000007) * 654435747 % 1000000007 AS h FROM top
           |)
           |SELECT q.user_id, q.exact_n, MIN(c.c) AS cms_est
           |FROM qh q, plane p, cnt c
           |WHERE c.j = p.j AND c.bucket = ((p.a * q.h + p.b) % 1000000007) % 512
           |GROUP BY q.user_id, q.exact_n
           |ORDER BY q.user_id""".stripMargin))

  // Duplicate-cluster assignment over the MinHash candidate pairs:
  // iterative min-label propagation on the Spark side; the oracle computes
  // the same components with a recursive transitive closure in DuckDB.
  private val qDedupClusters = df("q_dedup_clusters",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text")
      val pairs = Dedup.minhashCandidates(Dedup.minhashBands(sigs, "doc_id"), "doc_id")
      Dedup.duplicateClusters(pairs).orderBy("doc_id")
    },
    Some {
      val base = graft.queries.PipelineQueries.minhashCandsDuckSql
      s"""${base.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM cands
         |  UNION SELECT d2 AS a, d1 AS b FROM cands
         |), reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |)
         |SELECT a AS doc_id, LEAST(a, MIN(b)) AS keeper
         |FROM reach GROUP BY a
         |ORDER BY doc_id""".stripMargin
    })

  // Leakage-safe split (Sampling.leakageSafeSplit): near-duplicate docs
  // draw their train/val/test assignment from their cluster keeper's
  // hash, so a cluster can never straddle a split boundary. Output: per-
  // split counts plus the number of clusters spanning >1 split (must be
  // 0 by construction — the oracle recomputes it independently).
  private val qLeakageSplit = df("q_pipeline_leakage_split",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val sigs = Dedup.minhashSignature(docs, "doc_id", "text")
      val pairs = Dedup.minhashCandidates(Dedup.minhashBands(sigs, "doc_id"), "doc_id")
      val clusters = Dedup.duplicateClusters(pairs)
      val assigned = Sampling.leakageSafeSplit(docs, "doc_id", clusters,
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      val counts = assigned.groupBy("split")
        .agg(count(lit(1)).cast("bigint").as("n"))
        .select(col("split").as("label"), col("n"))
      val violations = assigned.join(clusters, "doc_id")
        .groupBy("keeper").agg(countDistinct(col("split")).as("ns"))
        .filter(col("ns") > 1)
        .agg(count(lit(1)).cast("bigint").as("n"))
        .select(lit("violations").as("label"), col("n"))
      counts.unionAll(violations).orderBy("label")
    },
    Some {
      val base = graft.queries.PipelineQueries.minhashCandsDuckSql
      s"""${base.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |edges AS (
         |  SELECT d1 AS a, d2 AS b FROM cands
         |  UNION SELECT d2 AS a, d1 AS b FROM cands
         |), reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |), keepers AS (
         |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS keeper
         |  FROM reach GROUP BY a
         |), assigned AS (
         |  SELECT d.doc_id,
         |    CASE WHEN ((COALESCE(k.keeper, d.doc_id) % 1000000007)
         |               * 2654435761) % 4294967296 < 3435973836 THEN 'train'
         |         WHEN ((COALESCE(k.keeper, d.doc_id) % 1000000007)
         |               * 2654435761) % 4294967296 < 3865470566 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents d LEFT JOIN keepers k USING (doc_id)
         |)
         |SELECT label, n FROM (
         |  SELECT split AS label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM assigned GROUP BY 1
         |  UNION ALL
         |  SELECT 'violations', CAST(COUNT(*) AS BIGINT) FROM (
         |    SELECT k.keeper FROM assigned a JOIN keepers k USING (doc_id)
         |    GROUP BY k.keeper HAVING COUNT(DISTINCT a.split) > 1
         |  )
         |) ORDER BY label""".stripMargin
    })

  // Stream-stream inner join (EventStreams.clickPurchaseAttribution):
  // purchases attributed to same-user clicks in the preceding 30 minutes,
  // both sides watermarked so buffered state stays bounded. The finite
  // file source arrives as one micro-batch, so the append-mode result is
  // exactly the batch join the oracle spells.
  private val qStreamJoin = df("q_stream_join",
    (spark, dir) => {
      val joined = EventStreams.clickPurchaseAttribution(
        EventStreams.readEvents(spark, dir))
      EventStreams.runToMemoryTable(joined, "graft_stream_join", mode = "append")
        .orderBy("click_id", "purchase_id")
    },
    Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
           |FROM events c JOIN events p
           |  ON p.user_id = c.user_id AND c.event_type = 'click'
           | AND p.event_type = 'purchase'
           | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
           |ORDER BY click_id, purchase_id""".stripMargin))

  // Custom stateful streaming (EventStreams.userActivity,
  // mapGroupsWithState): per-user running profile maintained across
  // micro-batches. The finite source arrives as one batch, so the final
  // state equals the batch aggregate. The running double sum accumulates
  // in arrival order (and DuckDB's parallel SUM reorders too), so the
  // value is quantized to integer CENTS before the operator: integer-
  // valued doubles of this magnitude add EXACTLY in any order (all sums
  // << 2^53), making the comparison deterministic — no rounding-boundary
  // flake, unlike a post-hoc DECIMAL round of a float accumulation.
  private val qStreamActivity = df("q_stream_activity",
    (spark, dir) => {
      val cents = EventStreams.readEvents(spark, dir)
        .withColumn("value", expr("CAST(FLOOR(value * 100) AS DOUBLE)"))
      val acts = EventStreams.userActivity(cents).toDF()
      EventStreams.runToMemoryTable(acts, "graft_stream_activity", mode = "update")
        .select(col("user_id"), col("n_events"),
          col("total_value").as("total_cents"), col("last_ts"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |  CAST(SUM(FLOOR(value * 100)) AS DOUBLE) AS total_cents,
           |  MAX(ts) AS last_ts
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))

  // Streaming exact dedup (append mode: each distinct key is emitted
  // exactly once, incrementally) — oracle is the batch DISTINCT.
  private val qStreamDedup = df("q_stream_dedup",
    (spark, dir) => {
      val keys = EventStreams.dedupKeys(EventStreams.readEvents(spark, dir))
      EventStreams.runToMemoryTable(keys, "graft_stream_dedup", mode = "append")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
           |ORDER BY user_id, event_type""".stripMargin))

  private val qStreamSessions = df("q_stream_sessions",
    (spark, dir) => {
      val agg = EventStreams.sessionCounts(EventStreams.readEvents(spark, dir))
      EventStreams.runToMemoryTable(agg, "graft_stream_sessions")
        .orderBy("user_id", "session_start")
    },
    Some("""WITH marked AS (
           |  SELECT user_id, ts,
           |    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
           |           OR ts > LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 30 MINUTE
           |         THEN 1 ELSE 0 END AS new_session
           |  FROM events
           |), s AS (
           |  SELECT user_id, ts,
           |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           |  FROM marked
           |)
           |SELECT user_id, MIN(ts) AS session_start,
           |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           |  COUNT(*) AS n_events
           |FROM s GROUP BY user_id, session_id
           |ORDER BY user_id, session_start""".stripMargin))

  // ViT patch-grid planning over the stub decoder's resize output. The
  // Spark side EXPLODES the (row, col) grid and aggregates it back; the
  // oracle derives the same numbers in closed form (floor arithmetic over
  // IEEE-exact divide/multiply) — each validates the other's grid.
  // Patch planning over REAL decoded dimensions: synthetic solid-color
  // PNGs (sized closed-form by doc_id) are encoded executor-side, decoded
  // back with javax.imageio (real pixel decode, not the stub), then
  // resize- and patch-planned. The oracle replays the closed-form sizes —
  // so a decode that misread width/height fails the hash.
  // The PNG fixture is BOUNDED (doc_id < 2000): encoding a deflate-
  // compressed PNG per document is fixture cost that would otherwise
  // dominate the bench as sf grows, while the decode path under test is
  // partition-parallel and linear in images either way.
  private val qMultimodalPatches = df("q_op_multimodal_patches",
    (spark, dir) => {
      implicit val s = spark
      val docs = Tables.table(spark, dir, "documents").filter(col("doc_id") < 2000)
      val media = Multimodal.syntheticPngTable(docs, "doc_id")
      val sized = Multimodal.resizePlan(Multimodal.decode(media).toDF(), 224, 224)
      Multimodal.patchPlan(sized, patch = 16)
        .groupBy("id")
        .agg(max(col("out_w").cast("bigint")).as("out_w"),
          max(col("out_h").cast("bigint")).as("out_h"),
          count(lit(1)).as("n_patches"),
          max(col("px").cast("bigint")).as("max_px"),
          max(col("py").cast("bigint")).as("max_py"))
        .select(col("id").as("doc_id"), col("out_w"), col("out_h"),
          col("n_patches"), col("max_px"), col("max_py"))
        // total order without orderBy's range-sampling pass, which would
        // evaluate the decode pipeline a second time; the aggregated
        // result is fixture-bounded so one output partition is fine
        .repartition(1).sortWithinPartitions("doc_id")
    },
    Some(s"""WITH dims AS (
            |  SELECT doc_id,
            |    100 + (doc_id * 7) % 500 AS w,
            |    80 + (doc_id * 13) % 400 AS h
            |  FROM documents WHERE doc_id < 2000
            |), sized AS (
            |  SELECT doc_id,
            |    CAST(FLOOR(w * LEAST(1.0, 224.0 / w, 224.0 / h)) AS BIGINT) AS out_w,
            |    CAST(FLOOR(h * LEAST(1.0, 224.0 / w, 224.0 / h)) AS BIGINT) AS out_h
            |  FROM dims
            |), grids AS (
            |  SELECT doc_id, out_w, out_h, out_w // 16 AS n_cols, out_h // 16 AS n_rows
            |  FROM sized
            |)
            |SELECT doc_id, out_w, out_h,
            |  n_cols * n_rows AS n_patches,
            |  (n_cols - 1) * 16 AS max_px, (n_rows - 1) * 16 AS max_py
            |FROM grids
            |WHERE n_cols > 0 AND n_rows > 0
            |ORDER BY doc_id""".stripMargin))

  // Real pixel decode validated cell-exact: solid-color PNGs mean-pool to
  // EXACTLY their fill color (integer channel sums / (w*h) — exact in
  // float), and every PNG leads with the fixed 8-byte signature. A decoder
  // that dropped rows, misread a channel order (RGB vs BGR would swap
  // mean_r/mean_b), or mis-sized the raster fails the hash.
  private val qMultimodalDecode = df("q_op_multimodal_decode",
    (spark, dir) => {
      implicit val s = spark
      // fixture bounded like q_op_multimodal_patches above
      val docs = Tables.table(spark, dir, "documents").filter(col("doc_id") < 2000)
      val media = Multimodal.syntheticPngTable(docs, "doc_id")
      Multimodal.decode(media).toDF()
        .select(col("id").as("doc_id"),
          col("magic"),
          col("width").cast("bigint").as("width"),
          col("height").cast("bigint").as("height"),
          element_at(col("features"), 1).cast("bigint").as("mean_r"),
          element_at(col("features"), 2).cast("bigint").as("mean_g"),
          element_at(col("features"), 3).cast("bigint").as("mean_b"))
        // see q_op_multimodal_patches: avoid orderBy's double evaluation
        .repartition(1).sortWithinPartitions("doc_id")
    },
    Some("""SELECT doc_id,
           |  '89504e470d0a1a0a' AS magic,
           |  CAST(100 + (doc_id * 7) % 500 AS BIGINT) AS width,
           |  CAST(80 + (doc_id * 13) % 400 AS BIGINT) AS height,
           |  (doc_id * 2654435761) % 16777216 // 65536 AS mean_r,
           |  ((doc_id * 2654435761) % 16777216 // 256) % 256 AS mean_g,
           |  (doc_id * 2654435761) % 16777216 % 256 AS mean_b
           |FROM documents WHERE doc_id < 2000 ORDER BY doc_id""".stripMargin))

  // REAL audio decode (Multimodal.decodeAudio): synthetic RIFF/WAVE clips
  // encoded by the JDK's own WAVE writer, decoded back through the JDK
  // parser, reduced to exact integer quartile energies. The oracle replays
  // the closed-form waveform arithmetic directly — a container-layout bug,
  // a sample-decode bug, or a window-boundary bug all hash-mismatch.
  private val qMultimodalAudio = df("q_op_multimodal_audio",
    (spark, dir) => {
      implicit val s = spark
      val docs = Tables.table(spark, dir, "documents").filter(col("doc_id") < 40)
      val media = Multimodal.syntheticWavTable(docs, "doc_id")
      Multimodal.decodeAudio(media).toDF()
        .select(col("id").as("doc_id"),
          col("sample_rate").cast("bigint").as("sample_rate"),
          col("channels").cast("bigint").as("channels"),
          col("n_samples"), col("e0"), col("e1"), col("e2"), col("e3"))
        // see q_op_multimodal_patches: avoid orderBy's double evaluation
        .repartition(1).sortWithinPartitions("doc_id")
    },
    Some("""WITH p AS (
           |  SELECT doc_id AS id, 8000 + (doc_id * 17) % 4000 AS n
           |  FROM documents WHERE doc_id < 40
           |), s AS (
           |  SELECT p.id, p.n, g.t,
           |    ((p.id * 31 + g.t * 7) % 2003 - 1001) AS v
           |  FROM p, LATERAL (SELECT unnest(range(0, p.n)) AS t) g
           |)
           |SELECT id AS doc_id,
           |  CAST(16000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS channels,
           |  CAST(MAX(n) AS BIGINT) AS n_samples,
           |  CAST(SUM(CASE WHEN t * 4 // n = 0 THEN v * v ELSE 0 END) AS BIGINT) AS e0,
           |  CAST(SUM(CASE WHEN t * 4 // n = 1 THEN v * v ELSE 0 END) AS BIGINT) AS e1,
           |  CAST(SUM(CASE WHEN t * 4 // n = 2 THEN v * v ELSE 0 END) AS BIGINT) AS e2,
           |  CAST(SUM(CASE WHEN t * 4 // n = 3 THEN v * v ELSE 0 END) AS BIGINT) AS e3
           |FROM s GROUP BY id ORDER BY doc_id""".stripMargin))

  // Canonical-URL dedup (LinkGraph.urlDedup): six messy spellings of the
  // same page URL (case, www, default port, utm params, fragment, a real
  // query param) synthesized per doc; the canonicalization SQL is EMITTED
  // for both dialects by LinkGraph.canonicalUrlSql, so Spark and DuckDB
  // normalize through literally the same regex chain.
  private def urlCaseSql(div: String) =
    s"""CASE doc_id % 6
       |  WHEN 0 THEN 'https://' || source || '.Example.COM/p/' || (doc_id $div 6) || '/'
       |  WHEN 1 THEN 'https://www.' || source || '.example.com/p/' || (doc_id $div 6)
       |  WHEN 2 THEN 'HTTPS://' || source || '.example.com:443/p/' || (doc_id $div 6) || '?utm_source=feed&utm_medium=rss'
       |  WHEN 3 THEN 'https://' || source || '.example.com/p/' || (doc_id $div 6) || '#sec-' || lang
       |  WHEN 4 THEN 'https://' || source || '.example.com/p/' || (doc_id $div 6) || '?id=' || lang || '&ref=hp'
       |  ELSE 'http://' || source || '.example.com:80/p/' || (doc_id $div 6) || '?id=' || lang
       |END""".stripMargin
  private val qUrlDedup = df("q_op_url_dedup",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val urls = docs.select(col("doc_id"), expr(urlCaseSql("DIV")).as("url"))
      LinkGraph.urlDedup(urls, "doc_id", "url")
        .select(col("canonical_url"), col("keeper").cast("bigint").as("keeper"),
          col("n_dups").cast("bigint").as("n_dups"))
        .orderBy("canonical_url")
    },
    Some(s"""WITH u AS (
            |  SELECT doc_id, ${urlCaseSql("//")} AS url FROM documents
            |), c AS (
            |  SELECT doc_id, ${LinkGraph.canonicalUrlSql("url", spark = false)} AS canonical_url FROM u
            |)
            |SELECT canonical_url, CAST(MIN(doc_id) AS BIGINT) AS keeper,
            |  CAST(COUNT(*) AS BIGINT) AS n_dups
            |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin))

  // Host-graph PageRank (LinkGraph.domainEdges + pageRank): every doc links
  // its own source host to a lang-CDN host and a shared hub host; 5
  // fixed-point integer iterations replayed by DuckDB via the generated
  // unrolled CTE chain (LinkGraph.pageRankOracleCtes) — a single DIV or
  // join deviation anywhere in the iteration hash-mismatches.
  private def pageTextSql(mod: String) =
    s"'visit https://' || source || '.example.com/p/' || doc_id || " +
      s"' or http://cdn-' || lang || '.mirror.net/a see https://hub' || ($mod) || '.portal.org/x ' || text"
  private val hostRe = "^[A-Za-z]+://([^/?#:]+)"
  private val qPageRank = df("q_op_pagerank",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val pages = docs.select(col("doc_id"),
        expr("'https://' || source || '.example.com/p/' || doc_id").as("url"),
        expr(pageTextSql("doc_id % 3")).as("text2"))
      val edges = LinkGraph.domainEdges(pages, "url", "text2")
      LinkGraph.pageRank(edges, iterations = 5)
        .select(col("domain"), col("rank_fp").cast("bigint").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("domain"))
    },
    Some(s"""WITH p AS (
            |  SELECT doc_id, 'https://' || source || '.example.com/p/' || doc_id AS url,
            |    ${pageTextSql("doc_id % 3")} AS text2
            |  FROM documents
            |), links AS (
            |  SELECT lower(regexp_extract(${LinkGraph.canonicalUrlSql("url", spark = false)}, '$hostRe', 1)) AS src,
            |    unnest(regexp_extract_all(text2, 'https?://[^ ]+')) AS u
            |  FROM p
            |), edges AS (
            |  SELECT src, lower(regexp_extract(u, '$hostRe', 1)) AS dst,
            |    CAST(COUNT(*) AS BIGINT) AS w
            |  FROM links
            |  WHERE src <> '' AND lower(regexp_extract(u, '$hostRe', 1)) <> ''
            |  GROUP BY src, dst
            |),
            |${LinkGraph.pageRankOracleCtes(iterations = 5, dampingPpm = 850000L, scale = 1000000000000L)}
            |SELECT d AS domain, CAST(r AS BIGINT) AS rank_fp
            |FROM rank5 ORDER BY rank_fp DESC, domain""".stripMargin))

  // Mergeable HLL distinct-count sketches (Sketches.distinctTokensBySource):
  // per-(source, shard) sketches union per source + a corpus rollup. The
  // oracle's exact COUNT(DISTINCT) is a legitimate exact check because the
  // sketch stays in its sparse (coupon-exact) regime at this vocabulary
  // size — the regime bound and the large-n approximate accuracy are both
  // pinned in SketchesSpec.
  private val qHllTokens = df("q_op_hll_tokens",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      Sketches.distinctTokensBySource(docs, "doc_id", "text").orderBy("source")
    },
    Some("""WITH t AS (
           |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
           |)
           |SELECT * FROM (
           |  SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_est
           |  FROM t GROUP BY source
           |  UNION ALL
           |  SELECT '~all~' AS source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_est
           |  FROM t
           |) ORDER BY source""".stripMargin))

  // robots.txt gate (LinkGraph.robotsRules + robotsGate): RFC 9309 group
  // semantics — consecutive User-agent lines share a group, agent-specific
  // groups override '*', longest matching prefix decides, allow wins ties,
  // hosts without robots default-allow. The ENTIRE parse (comment strip,
  // line typing, lag/running-sum grouping, specificity merge) and the gate
  // window are replayed in DuckDB, so a single grouping or tie-break
  // deviation hash-mismatches.
  // the path case cycles on (doc_id DIV 10) so it decorrelates from the
  // source assignment (doc_id % 10 in the synthetic data) — every
  // (host-kind, path) combination occurs, so both verdicts appear
  private def robotsUrlSql(div: String) =
    s"""CASE (doc_id $div 10) % 5
       |  WHEN 0 THEN 'https://' || source || '.example.com/private/doc' || doc_id
       |  WHEN 1 THEN 'https://' || source || '.example.com/private/ok/doc' || doc_id
       |  WHEN 2 THEN 'https://' || source || '.example.com/p/1'
       |  WHEN 3 THEN 'https://' || source || '.example.com/p/10'
       |  ELSE 'https://' || source || '.example.com'
       |END""".stripMargin
  private val qRobotsGate = df("q_op_robots_gate",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val hosts = docs.select(col("source")).distinct()
        .filter(expr("ascii(right(source, 1)) % 3 <> 2"))
      val robots = hosts.select(
        concat(col("source"), lit(".example.com")).as("host"),
        concat(lit("# robots for "), col("source"), lit("\n"),
          lit("User-agent: *\nDisallow: /private\nAllow: /private/ok\nDisallow:\n"),
          when(expr("ascii(right(source, 1)) % 2 = 0"),
            lit("User-agent: graftbot\nUser-agent: otherbot\nDisallow: /p/1\nAllow: /p/10"))
            .otherwise(lit(""))).as("txt"))
      val urls = docs.select(col("doc_id"), expr(robotsUrlSql("DIV")).as("url"))
      val rules = LinkGraph.robotsRules(robots, "graftbot")
      LinkGraph.robotsGate(urls, rules, "doc_id", "url").orderBy("doc_id")
    },
    Some(s"""WITH hosts AS (
            |  SELECT DISTINCT source FROM documents
            |  WHERE ascii(right(source, 1)) % 3 <> 2
            |), rob AS (
            |  SELECT source || '.example.com' AS host,
            |    '# robots for ' || source || chr(10) ||
            |    'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) ||
            |    'Allow: /private/ok' || chr(10) || 'Disallow:' || chr(10) ||
            |    CASE WHEN ascii(right(source, 1)) % 2 = 0
            |      THEN 'User-agent: graftbot' || chr(10) || 'User-agent: otherbot' || chr(10) ||
            |           'Disallow: /p/1' || chr(10) || 'Allow: /p/10'
            |      ELSE '' END AS txt
            |  FROM hosts
            |), lns AS (
            |  SELECT host, g.i - 1 AS ln, trim(regexp_replace(a[g.i], '#.*', '', 'g')) AS line
            |  FROM (SELECT host, string_split(txt, chr(10)) AS a FROM rob),
            |       LATERAL (SELECT unnest(range(1, len(a) + 1)) AS i) g
            |), kept AS (
            |  SELECT host, ln,
            |    lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS kind,
            |    trim(regexp_extract(line, '^[^:]+:(.*)', 1)) AS value
            |  FROM lns WHERE line <> ''
            |    AND lower(trim(regexp_extract(line, '^([^:]+):', 1)))
            |      IN ('user-agent', 'allow', 'disallow')
            |), grouped AS (
            |  SELECT *, SUM(CASE WHEN kind = 'user-agent'
            |      AND (prev_kind IS NULL OR prev_kind <> 'user-agent') THEN 1 ELSE 0 END)
            |      OVER (PARTITION BY host ORDER BY ln) AS grp
            |  FROM (SELECT *, lag(kind) OVER (PARTITION BY host ORDER BY ln) AS prev_kind
            |        FROM kept)
            |), gspec AS (
            |  SELECT host, grp, MAX(CASE WHEN lower(value) = 'graftbot' THEN 2
            |    WHEN value = '*' THEN 1 ELSE 0 END) AS spec
            |  FROM grouped WHERE kind = 'user-agent' GROUP BY host, grp
            |), best AS (
            |  SELECT host, MAX(spec) AS best_spec FROM gspec GROUP BY host
            |), rules AS (
            |  SELECT g.host, g.kind = 'allow' AS allow, g.value AS prefix
            |  FROM grouped g
            |  JOIN gspec s ON g.host = s.host AND g.grp = s.grp
            |  JOIN best b ON g.host = b.host
            |  WHERE g.kind IN ('allow', 'disallow') AND g.value <> ''
            |    AND s.spec = b.best_spec AND s.spec > 0
            |), urls AS (
            |  SELECT doc_id, ${robotsUrlSql("//")} AS url FROM documents
            |), parts AS (
            |  SELECT doc_id,
            |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#:]+)', 1)) AS host,
            |    CASE WHEN regexp_extract(regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '', 'g'), '^([^?#]*)', 1) = ''
            |      THEN '/'
            |      ELSE regexp_extract(regexp_replace(url, '^[A-Za-z]+://[^/?#]*', '', 'g'), '^([^?#]*)', 1)
            |    END AS path
            |  FROM urls
            |), matched AS (
            |  SELECT p.doc_id, r.allow,
            |    row_number() OVER (PARTITION BY p.doc_id
            |      ORDER BY length(r.prefix) DESC,
            |        CASE WHEN r.allow THEN 0 ELSE 1 END, r.prefix) AS rn
            |  FROM parts p JOIN rules r ON p.host = r.host
            |  WHERE substr(p.path, 1, length(r.prefix)) = r.prefix
            |)
            |SELECT p.doc_id, p.host, p.path, COALESCE(m.allow, TRUE) AS allowed
            |FROM parts p
            |LEFT JOIN (SELECT doc_id, allow FROM matched WHERE rn = 1) m USING (doc_id)
            |ORDER BY p.doc_id""".stripMargin))

  // Quality-classifier distillation (Distill.perceptron): 4 batch-
  // perceptron rounds in BIGINT over permil text features, learning a
  // linear weak-label rule; training replays bit-for-bit in DuckDB via the
  // generated unrolled CTE chain (Distill.perceptronOracleCtes) — a single
  // misclassification-set or update deviation in ANY round shifts the
  // final weights and hash-mismatches the per-source agreement counts.
  private val distillFs = Seq("f0", "f1", "f2", "f3", "f4")
  private def distillFeatSql(spark: Boolean) = {
    val (sz, dis, flt, div) =
      if (spark) ("size", "array_distinct", "filter", "DIV")
      else ("len", "list_distinct", "list_filter", "//")
    val split = if (spark) "split(text, ' ')" else "string_split(text, ' ')"
    s"""SELECT doc_id, source,
       |  CAST(1000 AS BIGINT) AS f0,
       |  CAST(LEAST(length(text), 1000) AS BIGINT) AS f1,
       |  CAST(LEAST($sz($split), 1000) AS BIGINT) AS f2,
       |  CAST((1000 * $sz($dis($split))) $div $sz($split) AS BIGINT) AS f3,
       |  CAST((1000 * $sz($flt($split, t -> t IN ('the', 'a')))) $div $sz($split) AS BIGINT) AS f4
       |FROM documents""".stripMargin
  }
  private def distillLabel =
    "CASE WHEN 2 * f3 + f4 > 700 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
  private val qDistill = df("q_op_distill",
    (spark, dir) => {
      import graft.operators.Distill
      val feat = spark.sql(
        s"SELECT *, $distillLabel AS y FROM (${distillFeatSql(spark = true)}) AS feat0")
      val w = Distill.perceptron(feat, "y", distillFs, iterations = 4)
      Distill.score(feat, w, distillFs)
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pred") === (col("y") === 1), 1L).otherwise(0L)).as("n_agree"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_pos_pred"))
        .orderBy("source")
    },
    Some(s"""WITH feat0 AS (
            |  ${distillFeatSql(spark = false)}
            |), feat AS (
            |  SELECT *, $distillLabel AS y FROM feat0
            |),
            |${graft.operators.Distill.perceptronOracleCtes("y", distillFs, iterations = 4)},
            |scored AS (
            |  SELECT f.source, f.y,
            |    (w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 + w.w4 * f4) AS margin
            |  FROM feat f, w4 w
            |)
            |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            |  CAST(SUM(CASE WHEN (margin > 0) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
            |  CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_pred
            |FROM scored GROUP BY source ORDER BY source""".stripMargin))

  // Count-min heavy-hitter sketch (Sketches.countMinCounters/Estimate):
  // unlike HLL, every CMS step is integer-exact — base poly31 hash (the
  // native gram_hashes expression), affine plane hashes, bucket counts,
  // min-estimate — so DuckDB replays estimates bit-for-bit including
  // collision overestimates. Queried for the exact top-20 tokens.
  private val qCountMin = df("q_op_countmin",
    (spark, dir) => {
      import graft.operators.Sketches
      graft.functions.TajoFunctions.register(spark)
      val docs = Tables.table(spark, dir, "documents")
      val occ = docs.select(explode(expr("gram_hashes(text, 1)")).as("h"))
      val counters = Sketches.countMinCounters(occ, "h")
      val top = docs.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tok")).limit(20)
        .withColumn("h", expr("element_at(gram_hashes(tok, 1), 1)"))
      Sketches.countMinEstimate(counters, top, "h")
        .select(col("tok"), col("exact_n"), col("cms_est"))
        .orderBy("tok")
    },
    Some(s"""WITH toks AS (
            |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
            |), occ AS (
            |  SELECT ${PipelineQueries.duckPoly31("tok")} AS h FROM toks
            |), plane(j, a, b) AS (
            |  VALUES (0, 1299709, 104729), (1, 15485863, 1299721), (2, 32452843, 15485867)
            |), cnt AS (
            |  SELECT p.j, ((p.a * o.h + p.b) % 1000000007) % 512 AS bucket,
            |    CAST(COUNT(*) AS BIGINT) AS c
            |  FROM occ o, plane p GROUP BY 1, 2
            |), top AS (
            |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok
            |  ORDER BY exact_n DESC, tok LIMIT 20
            |), qh AS (
            |  SELECT tok, exact_n, ${PipelineQueries.duckPoly31("tok")} AS h FROM top
            |)
            |SELECT q.tok, q.exact_n, MIN(c.c) AS cms_est
            |FROM qh q, plane p, cnt c
            |WHERE c.j = p.j AND c.bucket = ((p.a * q.h + p.b) % 1000000007) % 512
            |GROUP BY q.tok, q.exact_n
            |ORDER BY q.tok""".stripMargin))

  // Inverted-index build (TextAnalysis.invertedIndex): per-term df /
  // total tf / capped top-10 posting list by (tf DESC, doc) — the ordered
  // posting sequence fingerprinted as md5, so the oracle checks the FULL
  // ranking, not just membership.
  private val qInvertedIndex = df("q_op_inverted_index",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      TextAnalysis.invertedIndex(docs, "doc_id", "text", k = 10)
        .select(col("term"), col("df").cast("bigint").as("df"),
          col("total_tf").cast("bigint").as("total_tf"), col("postings_md5"))
        .orderBy("term")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
           |), tf AS (
           |  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2
           |), st AS (
           |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
           |    CAST(SUM(tf) AS BIGINT) AS total_tf
           |  FROM tf GROUP BY term
           |), rk AS (
           |  SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
           |  FROM tf
           |), pk AS (
           |  SELECT term,
           |    md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY tf DESC, doc_id)) AS postings_md5
           |  FROM rk WHERE rk <= 10 GROUP BY term
           |)
           |SELECT s.term, s.df, s.total_tf, p.postings_md5
           |FROM st s JOIN pk p USING (term) ORDER BY s.term""".stripMargin))

  // Integer BM25 retrieval (TextAnalysis.bm25Lite): tf saturation + length
  // normalization in ppm BIGINT arithmetic (integer-rational idf — no libm
  // ln, which is not bit-stable cross-engine); query = the corpus top-3
  // tokens, derived deterministically. The oracle replays avgdl/dl-norm/
  // tf-saturation/idf/sum/top-20 exactly.
  private val qBm25 = df("q_op_bm25",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val toks = docs.select(explode(split(col("text"), " ")).as("term"))
      val qterms = toks.groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term")).limit(3).select("term")
      TextAnalysis.bm25Lite(docs, "doc_id", "text", qterms)
        .select(col("doc_id"), col("score_ppm").cast("bigint").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
    },
    // same replay as the persisted-index spelling over the full table —
    // ONE DuckDB copy of the integer arithmetic (bm25ChainCtes) serves both
    Some(bm25IndexOracle("SELECT doc_id, text FROM documents")))

  // ---- Persisted BM25 retrieval index (Retrieval.writeBm25Index /
  // queryBm25Index / appendBm25Index / compactBm25Index) — the lexical
  // sibling of the stored MinHash and IVFADC indexes: postings + doc
  // lengths aggregate ONCE into parquet, and the query answers from the
  // stored tables with zero corpus-text scans. Every oracle below replays
  // the FULL corpus-side integer BM25 chain over the logical corpus the
  // index is supposed to represent, so a stale, torn, or double-appended
  // index hash-fails. Query terms derive from the STORED postings (top-3
  // by total tf) — even term selection avoids corpus text.
  // THE one DuckDB copy of the integer BM25 scoring arithmetic over a
  // suffix-parameterized tf/dl/dfreq/totals chain — shared by the plain
  // index oracle (one step) and the streaming oracle (one step per index
  // version). `qterms` is a free CTE name the caller binds.
  private def bm25ChainCtes(sfx: String, corpusSql: String): String =
    s"""toks$sfx AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM ($corpusSql)
       |), dl$sfx AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks$sfx GROUP BY doc_id
       |), totals$sfx AS (
       |  SELECT CAST(SUM(dl) AS BIGINT) AS total_tok,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl$sfx
       |), tf$sfx AS (
       |  SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks$sfx t JOIN qterms q USING (term) GROUP BY t.doc_id, t.term
       |), dfreq$sfx AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf$sfx GROUP BY term
       |), scored$sfx AS (
       |  SELECT tf.doc_id,
       |    ((1000000 * (x.n_docs - d.df + 1)) // (d.df + 1)
       |      * ((LEAST(tf.tf, 4000000) * 2200000 * 1000000)
       |         // (LEAST(tf.tf, 4000000) * 1000000
       |            + (1200000 * ((1000000 - 750000)
       |               + (750000 * ((1000000 * LEAST(dl.dl, 8000000) * 1000000)
       |                  // (1000000 * (x.total_tok // x.n_docs)
       |                     + (1000000 * (x.total_tok % x.n_docs)) // x.n_docs))) // 1000000))
       |              // 1000000))
       |    ) // 1000000 AS s
       |  FROM tf$sfx tf JOIN dl$sfx dl USING (doc_id)
       |    JOIN dfreq$sfx d USING (term), totals$sfx x
       |)""".stripMargin

  private def bm25IndexOracle(corpusSql: String): String =
    s"""WITH toksq AS (
       |  SELECT unnest(string_split(text, ' ')) AS term FROM ($corpusSql)
       |), qterms AS (
       |  SELECT term FROM (
       |    SELECT term, COUNT(*) AS n FROM toksq GROUP BY term
       |    ORDER BY n DESC, term LIMIT 3
       |  )
       |), ${bm25ChainCtes("", corpusSql)}
       |SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_ppm
       |FROM scored GROUP BY doc_id
       |ORDER BY score_ppm DESC, doc_id LIMIT 20""".stripMargin
  private val bm25IdxScratch = {
    val d = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_idx-" +
      java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))))
    d
  }
  // top query terms from the STORED postings — the qterm derivation is
  // itself index-only (SUM(tf) per term == the corpus token count the
  // oracle's qterms CTE computes)
  private def bm25IdxTopTerms(idx: graft.operators.Retrieval.Bm25Index): org.apache.spark.sql.DataFrame =
    idx.postings.groupBy("term").agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("term")).limit(3).select("term")

  private val qBm25Index = df("q_op_bm25_index",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 300).select("doc_id", "text")
      val idx = Retrieval.writeBm25Index(corpus, "doc_id", "text",
        s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}")
      Retrieval.queryBm25Index(idx, bm25IdxTopTerms(idx))
        .select(col("doc_id"), col("score_ppm").cast("bigint").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
    },
    Some(bm25IndexOracle(
      "SELECT doc_id, text FROM documents WHERE doc_id < 300")))

  // The maintenance half: batch docs fold in under new ids, then the SAME
  // append replays (an at-least-once scheduler re-run of a committed
  // append) — the doclens presence check must make the replay a no-op, or
  // tf/df/n_docs/avgdl all shift and the oracle (corpus UNION batch,
  // counted ONCE) hash-fails. BM25 appends have no frozen-quantizer
  // caveat: term stats are pure per-doc aggregates, so the oracle treats
  // the appended index exactly as if batch docs were present at build.
  private val qBm25IndexAppend = df("q_op_bm25_index_append",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      val batch = docs.filter(col("doc_id").between(300, 349))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val idxDir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      Retrieval.writeBm25Index(corpus, "doc_id", "text", idxDir)
      Retrieval.appendBm25Index(batch, "doc_id", "text", idxDir)
      val idx = Retrieval.appendBm25Index(batch, "doc_id", "text", idxDir)
      Retrieval.queryBm25Index(idx, bm25IdxTopTerms(idx))
        .select(col("doc_id"), col("score_ppm").cast("bigint").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
    },
    Some(bm25IndexOracle(
      """SELECT doc_id, text FROM documents WHERE doc_id < 250
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id BETWEEN 300 AND 349""".stripMargin)))

  // The lifecycle end: after the append, the fixture plants the debris of
  // a crashed re-append of the batch (its postings segment and a `.tmp-`
  // manifest, never committed), tombstones a tenth of the original
  // corpus, and compacts. The oracle is (corpus MINUS drops) UNION batch
  // counted once — debris leaking into the index (over-counted tf/df), a
  // failed drop, or a lost doc all hash-fail. Dropping ids also moves df/avgdl
  // for every OTHER document, which is why tombstone removal is
  // correctness for BM25, not just space hygiene.
  private val qBm25IndexCompact = df("q_op_bm25_index_compact",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      val batch = docs.filter(col("doc_id").between(300, 349))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val idxDir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      Retrieval.writeBm25Index(corpus, "doc_id", "text", idxDir)
      Retrieval.appendBm25Index(batch, "doc_id", "text", idxDir)
      plantUncommittedBm25Append(spark, batch, idxDir)
      val dropped = corpus.filter(col("doc_id") % 10 === 3).select("doc_id")
      val idx = Retrieval.compactBm25Index(spark, idxDir, dropIds = Some(dropped))
      Retrieval.queryBm25Index(idx, bm25IdxTopTerms(idx))
        .select(col("doc_id"), col("score_ppm").cast("bigint").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
    },
    Some(bm25IndexOracle(
      """SELECT doc_id, text FROM documents WHERE doc_id < 250 AND doc_id % 10 <> 3
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents WHERE doc_id BETWEEN 300 AND 349""".stripMargin)))

  // Streaming document ingest against the persisted BM25 index
  // (StreamingRetrieval.indexedBm25Stream): two mtime-ordered micro-batches
  // flow through the fold-then-rescore loop — each trigger appends its docs
  // (heal-mode, replay-safe) and re-scores a FIXED query-term set (derived
  // from the CORPUS index postings before any fold) against the updated
  // index, tagging rows with the index version (doclens count after the
  // fold). The oracle replays BOTH steps from scratch (step 1 over corpus
  // UNION b1, step 2 over corpus UNION b1 UNION b2 — full integer BM25
  // chain each, n_docs_at from each step's totals) and unions them: a loop
  // that skipped a fold, double-appended (df/avgdl shift), scored a stale
  // index snapshot, or mis-tagged a version hash-fails. Scores for the
  // same doc legitimately differ across steps — that is the point: the
  // standing query tracks the corpus as it grows.
  private val qStreamBm25Indexed = df("q_stream_bm25_indexed",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val corpus = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      val batch1 = docs.filter(col("doc_id").between(300, 349))
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val batch2 = docs.filter(col("doc_id").between(350, 379))
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      val idx = Retrieval.writeBm25Index(corpus, "doc_id", "text", s"$base/idx")
      val qterms = bm25IdxTopTerms(idx).collect().map(_.getString(0)).toSeq
      val inDir = stageMtimeOrderedBatches(base, Seq(batch1, batch2))
      val stream = spark.readStream
        .schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = graft.streaming.StreamingRetrieval.indexedBm25Stream(
        stream, s"$base/idx", s"$base/scores", qterms)
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$base/scores")
        .dropDuplicates("n_docs_at", "doc_id")
        .select(col("n_docs_at").cast("bigint").as("n_docs_at"),
          col("doc_id"), col("score_ppm").cast("bigint").as("score_ppm"))
        .orderBy(col("n_docs_at"), col("score_ppm").desc, col("doc_id"))
    },
    Some {
      val corpusSql = "SELECT doc_id, text FROM documents WHERE doc_id < 250"
      val b1Sql = "SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 300 AND 349"
      val b2Sql = "SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id BETWEEN 350 AND 379"
      s"""WITH toksq AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM ($corpusSql)
         |), qterms AS (
         |  SELECT term FROM (
         |    SELECT term, COUNT(*) AS n FROM toksq GROUP BY term
         |    ORDER BY n DESC, term LIMIT 3
         |  )
         |), ${bm25ChainCtes("_1", s"$corpusSql UNION ALL $b1Sql")},
         |${bm25ChainCtes("_2", s"$corpusSql UNION ALL $b1Sql UNION ALL $b2Sql")},
         |top_1 AS (
         |  SELECT (SELECT n_docs FROM totals_1) AS n_docs_at, doc_id,
         |    CAST(SUM(s) AS BIGINT) AS score_ppm
         |  FROM scored_1 GROUP BY doc_id
         |  ORDER BY score_ppm DESC, doc_id LIMIT 20
         |), top_2 AS (
         |  SELECT (SELECT n_docs FROM totals_2) AS n_docs_at, doc_id,
         |    CAST(SUM(s) AS BIGINT) AS score_ppm
         |  FROM scored_2 GROUP BY doc_id
         |  ORDER BY score_ppm DESC, doc_id LIMIT 20
         |)
         |SELECT * FROM top_1
         |UNION ALL
         |SELECT * FROM top_2
         |ORDER BY n_docs_at, score_ppm DESC, doc_id""".stripMargin
    })

  // Hybrid retrieval served ENTIRELY from persisted indexes — the capstone
  // tying the two index families together: the lexical arm queries the
  // stored BM25 postings (zero corpus-text scans), the vector arm queries
  // the stored IVFADC codes (ADC-only, zero raw-vector scans: rerank = 0
  // so the corpus argument never enters the plan), and reciprocal-rank
  // fusion joins them on ranks alone. This is the 100 TB serving shape:
  // after the two one-time builds, a query touches only term-pruned
  // postings row groups + the PQ code table. The oracle replays BOTH
  // persisted chains end-to-end (the integer BM25 chain AND the full
  // centroid/codebook/codes/ADC pipeline with the probe entering encode
  // but not the searchable codes) plus the fusion — a rank shifted
  // anywhere in either stored index moves a fused score and hash-fails.
  private val qHybridRrfIndexed = df("q_pipeline_hybrid_rrf_indexed",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val emb = Tables.table(spark, dir, "embeddings").select("vec_id", "embedding")
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      // NOTE (r14, measured): overlapping the two index builds as
      // concurrent jobs (guide §2.6) was tried and measured NEUTRAL-TO-
      // SLOWER here (same-box warm solos, med 6.53s sequential vs 6.82s
      // overlapped) — unlike the fixture plants, the residual-PQ build's
      // stages saturate the cores, so there is no idle tail for the BM25
      // build to fill; kept sequential.
      val bmIdx = Retrieval.writeBm25Index(
        docs.select("doc_id", "text"), "doc_id", "text", s"$base/bm")
      val lex = Retrieval.queryBm25Index(bmIdx, bm25IdxTopTerms(bmIdx))
      val corpusVecs = emb.filter(col("vec_id") =!= 0)
      val annIdx = Similarity.writeIvfPqResidualIndex(
        corpusVecs, "vec_id", "embedding", s"$base/ann")
      val probe = emb.filter(col("vec_id") === 0)
      val ann = Similarity.queryIvfPqResidual(annIdx, corpusVecs, probe,
          "vec_id", "embedding", k = 20, nProbe = 4, rerank = 0)
        .select(col("neighbor_id").as("doc_id"),
          (lit(0L) - col("l2_micro")).as("neg_l2"))
      TextAnalysis.reciprocalRankFusion(
        Seq(lex -> "score_ppm", ann -> "neg_l2"), "doc_id")
    },
    Some {
      val vecsSql = "SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0"
      s"""WITH toksq AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
         |), qterms AS (
         |  SELECT term FROM (
         |    SELECT term, COUNT(*) AS n FROM toksq GROUP BY term
         |    ORDER BY n DESC, term LIMIT 3
         |  )
         |), ${bm25ChainCtes("_b", "SELECT doc_id, text FROM documents")},
         |bm AS (
         |  SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_ppm
         |  FROM scored_b GROUP BY doc_id
         |  ORDER BY score_ppm DESC, doc_id LIMIT 20
         |), lex AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id) AS r FROM bm
         |), ${ivfPqResidualOracleCtes(nProbe = 4, trainSql = vecsSql,
             allSql = vecsSql,
             encSql = Some("SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0"),
             probeSql = Some("SELECT 0 AS vec_id"))},
         |anncand AS (
         |  SELECT neighbor_id,
         |    ROW_NUMBER() OVER (ORDER BY l2_micro ASC, neighbor_id) AS r
         |  FROM scored
         |), ann AS (
         |  SELECT neighbor_id AS doc_id, r FROM anncand WHERE r <= 20
         |), fused AS (
         |  SELECT doc_id, 1000000 // (60 + r) AS contrib FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1000000 // (60 + r) FROM ann
         |)
         |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS rrf_ppm,
         |  CAST(COUNT(*) AS BIGINT) AS n_lists
         |FROM fused GROUP BY doc_id ORDER BY rrf_ppm DESC, doc_id LIMIT 20""".stripMargin
    })

  // ---- Materialized aggregate state (AggState.writeAggState /
  // foldAggState / readAggState / compactAggState) — incremental OLAP
  // cube maintenance, the aggregate sibling of the persisted indexes:
  // per-group partials (count / exact DECIMAL sum / min / max) persist
  // once, each ingest batch folds batch-sized delta rows, reads merge.
  // Every oracle below recomputes the aggregate FROM SCRATCH over the
  // union of base + every folded batch, so a lost fold, a double-counted
  // replay, or a merge error in any measure hash-fails.
  private def aggStateOracle(srcWhere: String): String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(COUNT(*) AS BIGINT) AS cnt,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_l_quantity,
       |  MIN(l_quantity) AS min_l_quantity,
       |  MAX(l_quantity) AS max_l_quantity,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_l_extendedprice,
       |  MIN(l_extendedprice) AS min_l_extendedprice,
       |  MAX(l_extendedprice) AS max_l_extendedprice
       |FROM lineitem WHERE $srcWhere
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  private val aggGroupCols = Seq("l_returnflag", "l_linestatus")
  private val aggValueCols = Seq("l_quantity", "l_extendedprice")
  // four DISJOINT fact-table slices (base + three batches; their union is
  // the whole table) — disjointness matters: the oracles count the union
  // once, so an overlapping slice would double-count on the Spark side
  private def aggSlices(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice")
    (li.filter(col("l_orderkey") % 4 === 1 || col("l_orderkey") % 4 === 2)
        .drop("l_orderkey"),
      li.filter(col("l_orderkey") % 4 === 3).drop("l_orderkey"),
      li.filter(col("l_orderkey") % 8 === 0).drop("l_orderkey"),
      li.filter(col("l_orderkey") % 8 === 4).drop("l_orderkey"))
  }
  // base + two folds + a replayed committed fold (must no-op on the tag
  // check) + a planted torn-retry duplicate of batch b2's delta rows
  // (bit-identical by DECIMAL determinism; the read-side dedupe collapses
  // them) — the read is exact over base UNION b1 UNION b2 counted once.
  private val qAggState = df("q_op_agg_state",
    (spark, dir) => {
      val (base, b1, b2, _) = aggSlices(spark, dir)
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.AggState.writeAggState(base, sdir, aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b2, sdir, "b2", aggGroupCols, aggValueCols)
      // committed replay: tag present, must not double-count
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      // torn-retry state: b2's delta rows land a second time WITHOUT a tag
      // transition (a crash between the rows write and the tag commit,
      // then a retry) — recomputed partials are bit-identical, so the
      // read-side (group, __batch) dedupe must restore exactness
      graft.operators.AggState.partials(b2, aggGroupCols, aggValueCols, "b2")
        .write.mode("append").parquet(s"$sdir/state")
      graft.operators.AggState.readAggState(spark, sdir, aggGroupCols, aggValueCols)
        .orderBy(aggGroupCols.map(col): _*)
    },
    Some(aggStateOracle("l_orderkey % 4 IN (1, 2, 3) OR l_orderkey % 8 = 0")))

  // The lifecycle end: compact to one row per group, fold a THIRD batch
  // after compaction, then replay a PRE-compaction fold — whose delta
  // rows no longer exist, so only the compaction-proof tags sidecar can
  // block the double-count (the design's leg 3; a failed guard hash-fails
  // the oracle, which counts each batch exactly once).
  private val qAggStateCompact = df("q_op_agg_state_compact",
    (spark, dir) => {
      val (base, b1, b2, b3) = aggSlices(spark, dir)
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.AggState.writeAggState(base, sdir, aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b2, sdir, "b2", aggGroupCols, aggValueCols)
      graft.operators.AggState.compactAggState(spark, sdir, aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b3, sdir, "b3", aggGroupCols, aggValueCols)
      // replay of a pre-compaction fold: its rows were merged away, so
      // dropDuplicates can no longer catch this — _tags.json must
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      graft.operators.AggState.readAggState(spark, sdir, aggGroupCols, aggValueCols)
        .orderBy(aggGroupCols.map(col): _*)
    },
    Some(aggStateOracle("1 = 1")))  // the four slices partition the table

  // The correction path (AggState.retractAggState): fold two batches,
  // RETRACT the first — exact for every measure, min/max included,
  // because the batch's delta rows are retained verbatim until compaction
  // and retraction just drops them — then replay the retracted fold (its
  // tag stays committed, so the replay must not resurrect the data). The
  // oracle recomputes over base UNION b2 only: a surviving b1 row, a
  // stale min/max, or a resurrected replay all hash-fail.
  private val qAggStateRetract = df("q_op_agg_state_retract",
    (spark, dir) => {
      val (base, b1, b2, _) = aggSlices(spark, dir)
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.AggState.writeAggState(base, sdir, aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      graft.operators.AggState.foldAggState(b2, sdir, "b2", aggGroupCols, aggValueCols)
      graft.operators.AggState.retractAggState(spark, sdir, "b1", aggGroupCols, aggValueCols)
      // the original fold's late replay: blocked by the still-committed tag
      graft.operators.AggState.foldAggState(b1, sdir, "b1", aggGroupCols, aggValueCols)
      graft.operators.AggState.readAggState(spark, sdir, aggGroupCols, aggValueCols)
        .orderBy(aggGroupCols.map(col): _*)
    },
    Some(aggStateOracle("l_orderkey % 4 IN (1, 2) OR l_orderkey % 8 = 0")))

  // Continuous ingest into the aggregate state
  // (StreamingAggState.aggStateStream): two mtime-ordered micro-batches
  // fold through foreachBatch; the merged read afterwards must be exact
  // over base UNION both batches — a skipped trigger, a double-applied
  // replay, or a tag collision hash-fails the same from-scratch oracle.
  private val qStreamAggState = df("q_stream_agg_state",
    (spark, dir) => {
      val (base, b1, b2, _) = aggSlices(spark, dir)
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.AggState.writeAggState(base, s"$sdir/st", aggGroupCols, aggValueCols)
      val inDir = stageMtimeOrderedBatches(sdir, Seq(b1, b2))
      val stream = spark.readStream
        .schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = graft.streaming.StreamingAggState.aggStateStream(
        stream, s"$sdir/st", aggGroupCols, aggValueCols,
        checkpointDir = s"$sdir/ckpt")
      q.processAllAvailable()
      q.stop()
      graft.operators.AggState.readAggState(spark, s"$sdir/st", aggGroupCols, aggValueCols)
        .orderBy(aggGroupCols.map(col): _*)
    },
    Some(aggStateOracle("l_orderkey % 4 IN (1, 2, 3) OR l_orderkey % 8 = 0")))

  // Crawl snapshot diff (Dedup.snapshotDiff): added/removed/modified/
  // unchanged by digest across two snapshots; the fixture derives an "old"
  // snapshot that exercises all four statuses (dropped %7 ids -> added,
  // extra shifted ids -> removed, %5 text edits -> modified).
  private val qSnapshotDiff = df("q_op_snapshot_diff",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.snapshotDiff(old, docs, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n_docs"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy("status")
    },
    Some("""WITH old AS (
           |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END AS text
           |  FROM documents WHERE doc_id % 7 <> 0
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
           |), o AS (
           |  SELECT doc_id AS id, md5(text) AS od FROM old
           |), n AS (
           |  SELECT doc_id AS id, md5(text) AS nd FROM documents
           |), d AS (
           |  SELECT id,
           |    CASE WHEN od IS NULL THEN 'added' WHEN nd IS NULL THEN 'removed'
           |         WHEN od <> nd THEN 'modified' ELSE 'unchanged' END AS status
           |  FROM o FULL OUTER JOIN n USING (id)
           |)
           |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(MIN(id) AS BIGINT) AS min_id, CAST(MAX(id) AS BIGINT) AS max_id
           |FROM d GROUP BY status ORDER BY status""".stripMargin))

  // Pre-shuffle skew diagnosis (Skew.diagnoseKey): the one-row report
  // (key count, hot key, skew ratio, suggested salt factor) a planner
  // reads BEFORE committing a 100 TB join to a partitioning. The fixture
  // funnels a third of lineitem onto one hot key.
  private val qSkewDiag = df("q_op_skew_diag",
    (spark, dir) => {
      val li = Tables.table(spark, dir, "lineitem")
      val keyed = li.select(
        expr("CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_suppkey END").as("k"))
      Skew.diagnoseKey(keyed, "k")
    },
    Some("""WITH keyed AS (
           |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0 ELSE l_suppkey END AS k
           |  FROM lineitem
           |), pk AS (
           |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n FROM keyed GROUP BY k
           |)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(n) AS BIGINT) AS n_rows,
           |  CAST(MAX(n) AS BIGINT) AS max_n,
           |  (SELECT CAST(k AS VARCHAR) FROM pk ORDER BY n DESC, CAST(k AS VARCHAR) LIMIT 1) AS hot_key,
           |  CAST((1000000 * MAX(n)) // (SUM(n) // COUNT(*)) AS BIGINT) AS skew_ppm,
           |  CAST(GREATEST(1, MAX(n) // (SUM(n) // COUNT(*))) AS BIGINT) AS suggested_salts
           |FROM pk""".stripMargin))

  // Persisted-state consistency checker (IndexFsck): build small instances
  // of all four families, PLANT a known corruption set — torn appends
  // (orphan agg tags; an uncommitted BM25 store append: one orphan
  // segment + one `.tmp-` manifest), crash-retried duplicates (partials,
  // code rows), an interrupted retraction, torn cluster
  // relabels, partial/mixed-build code writes — and report every
  // invariant's violation count. The oracle recomputes each count from the
  // SOURCE tables through the same deterministic plant arithmetic, so a
  // check that under- or over-counts (or a plant that quietly stopped
  // planting) hash-fails. One corruption tripping several checks is
  // realistic and priced in: the duplicated code rows also break the
  // per-id row count, and the keeper-above plant is also dangling.
  // Build small instances of all four persisted families under `base` and
  // PLANT the shared corruption set described on q_op_index_fsck — the
  // fixture BOTH the checker (q_op_index_fsck) and the repairer
  // (q_op_index_repair) are graded against, factored so the two oracles
  // can never drift onto different plants. Returns the planted cluster
  // assignment (the one family checked/repaired as a DataFrame).
  // independent fixture/maintenance tasks run as CONCURRENT Spark jobs
  // (graft.operators.Jobs.concurrently — guide §2.6: with ~25 sequential
  // sub-second jobs the fixture build of the repo's two heaviest queries
  // was ~60% per-job scheduling tail, VERDICT r13 #3)
  private[graft] def concurrently(tasks: (() => Unit)*): Unit =
    graft.operators.Jobs.concurrently(tasks: _*)

  // The crash debris a BM25 append can still leave on its store: a writer
  // that died after writing a segment (postings of `docs`) but before its
  // commit, and one that died between its manifest write and the commit
  // rename (a `.tmp-` manifest).
  private[graft] def plantUncommittedBm25Append(spark: org.apache.spark.sql.SparkSession,
                                                docs: org.apache.spark.sql.DataFrame,
                                                dir: String): Unit = {
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .write.parquet(s"$dir/_segments/orphan-${java.util.UUID.randomUUID().toString.take(8)}")
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/_manifests/.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = tmp.getFileSystem(spark.sessionState.newHadoopConf()).create(tmp, false)
    try out.write("""{"version":""".getBytes("UTF-8")) finally out.close()
  }

  private[graft] def plantCorruptedFamilies(spark: org.apache.spark.sql.SparkSession,
                                            dir: String,
                                            base: String): org.apache.spark.sql.DataFrame = {
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      // The five families are INDEPENDENT (disjoint subdirs of `base`, or a
      // pure frame), so their plants run as concurrent jobs (guide §2.6;
      // VERDICT r13 #3) — contents identical to the former sequential
      // build, each family's write/append order preserved in its task.
      @volatile var plantedClusters: org.apache.spark.sql.DataFrame = null
      concurrently(
        () => {
          // ---- BM25: an append that crashed before its commit
          graft.operators.Retrieval.writeBm25Index(
            docs.filter(col("doc_id") < 200), "doc_id", "text", s"$base/bm25", termShards = 4)
          plantUncommittedBm25Append(spark, docs.filter(col("doc_id").between(200, 219)),
            s"$base/bm25")
        },
        () => {
          // ---- minhash index: torn one-table appends + a duplicated append
          graft.operators.Dedup.writeMinhashIndex(
            docs.filter(col("doc_id") < 150), "doc_id", "text", s"$base/mh")
          def sigsOf(d: org.apache.spark.sql.DataFrame) =
            graft.operators.Dedup.minhashSignature(d, "doc_id", "text")
          sigsOf(docs.filter(col("doc_id").between(150, 159)))      // sigs, no bands
            .write.mode("append").parquet(s"$base/mh/sigs")
          graft.operators.Dedup.minhashBands(                       // bands, no sigs
              sigsOf(docs.filter(col("doc_id").between(160, 164))), "doc_id")
            .write.mode("append").parquet(s"$base/mh/bands")
          graft.operators.Dedup.minhashBands(                       // retried append
              sigsOf(docs.filter(col("doc_id") < 5)), "doc_id")
            .write.mode("append").parquet(s"$base/mh/bands")
        },
        () => {
          // ---- aggregate state: orphan tag, torn-retry duplicate, crashed
          // retraction (intent recorded, rows re-present). The fact-table
          // slices are capped at l_orderkey < 30000: the checks count GROUPS,
          // which saturate immediately, so scanning the whole fact table per
          // plant buys nothing
          val liCap = Tables.table(spark, dir, "lineitem")
            .filter(col("l_orderkey") < 30000)
            .select("l_orderkey", "l_returnflag", "l_linestatus",
              "l_quantity", "l_extendedprice")
          def slice(pred: org.apache.spark.sql.Column) =
            liCap.filter(pred).drop("l_orderkey")
          val aBase = slice(col("l_orderkey") % 4 === 1 || col("l_orderkey") % 4 === 2)
          val b1 = slice(col("l_orderkey") % 4 === 3)
          val b2 = slice(col("l_orderkey") % 8 === 0)
          val b3 = slice(col("l_orderkey") % 8 === 4)
          graft.operators.AggState.writeAggState(aBase, s"$base/agg", aggGroupCols, aggValueCols)
          graft.operators.AggState.foldAggState(b1, s"$base/agg", "b1", aggGroupCols, aggValueCols)
          graft.operators.AggState.foldAggState(b2, s"$base/agg", "b2", aggGroupCols, aggValueCols)
          graft.operators.AggState.retractAggState(spark, s"$base/agg", "b2", aggGroupCols, aggValueCols)
          Seq((b2, "b2"), (b3, "zz_orphan"), (b1, "b1")).foreach { case (b, tag) =>
            graft.operators.AggState.partials(b, aggGroupCols, aggValueCols, tag)
              .write.mode("append").parquet(s"$base/agg/state")
          }
        },
        () => {
          // ---- cluster assignment: disjoint 2-cliques + three torn-relabel
          // plants (the %10=1 rows violate keeper_above AND dangle — priced
          // in). duplicateClusters materializes its CC rounds eagerly, so
          // this is a job-running task, not just frame construction.
          val cust = Tables.table(spark, dir, "customer").select(col("c_custkey"))
          val stored = graft.operators.Dedup.duplicateClusters(
            cust.filter(col("c_custkey") % 10 === 0)
              .select(col("c_custkey").as("d1"), (col("c_custkey") + 1000000L).as("d2")))
          plantedClusters = stored
            .unionAll(cust.filter(col("c_custkey") % 10 === 1)
              .select((col("c_custkey") + 2000000L).as("doc_id"),
                (col("c_custkey") + 3000000L).as("keeper")))
            .unionAll(cust.filter(col("c_custkey") % 10 === 7)
              .select((col("c_custkey") + 4000000L).as("doc_id"), lit(7L).as("keeper")))
            .unionAll(cust.filter(col("c_custkey") % 20 === 0)
              .select((col("c_custkey") + 5000000L).as("doc_id"),
                (col("c_custkey") + 1000000L).as("keeper")))
            // crash-retried fold append: both rows of every %30 clique land
            // twice (identical duplicates — must NOT fan out the other checks)
            .unionAll(stored.filter(col("keeper") % 30 === 0))
        },
        () => {
          // ---- residual IVF-PQ: partial code write, mixed-build cells,
          // crash-retried duplicate append
          graft.operators.Similarity.writeIvfPqResidualIndex(
            Tables.table(spark, dir, "embeddings").filter(col("vec_id") < 300),
            "vec_id", "embedding", s"$base/ivf")
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
          graft.operators.Checkpoints.free(codes0) // all three plants landed
        })
      plantedClusters
  }

  private val qIndexFsck = df("q_op_index_fsck",
    (spark, dir) => {
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      val plantedClusters = plantCorruptedFamilies(spark, dir, base)
      graft.operators.IndexFsck.checkMinhash(spark, s"$base/mh")
        .unionAll(graft.operators.IndexFsck.checkBm25(spark, s"$base/bm25"))
        .unionAll(graft.operators.IndexFsck.checkAggState(spark, s"$base/agg"))
        .unionAll(graft.operators.IndexFsck.checkClusterAssignment(plantedClusters))
        .unionAll(graft.operators.IndexFsck.checkIvfPq(spark, s"$base/ivf"))
        .orderBy("family", "check")
    },
    Some("""WITH
           |b1g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 4 = 3),
           |b2g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 8 = 0),
           |b3g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 8 = 4),
           |c1 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 10 = 1),
           |c7 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 10 = 7),
           |c20 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 20 = 0),
           |c30 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 30 = 0),
           |v0 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 0),
           |v1 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 1),
           |v2 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 2),
           |m1 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id BETWEEN 150 AND 159),
           |m2 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id BETWEEN 160 AND 164),
           |m3 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 5)
           |SELECT family, "check", CAST(violations AS BIGINT) AS violations FROM (
           |  SELECT 'bm25' AS family, 'broken_parent_chain' AS "check", 0 AS violations
           |  UNION ALL SELECT 'bm25', 'missing_segment_dirs', 0
           |  UNION ALL SELECT 'bm25', 'orphan_segments', 2
           |  UNION ALL SELECT 'bm25', 'rows_stat_mismatch', 0
           |  UNION ALL SELECT 'bm25', 'stat_bounds_mismatch', 0
           |  UNION ALL SELECT 'agg_state', 'orphan_tag_rows', (SELECT COUNT(*) FROM b3g)
           |  UNION ALL SELECT 'agg_state', 'duplicate_partials', (SELECT COUNT(*) FROM b1g)
           |  UNION ALL SELECT 'agg_state', 'retracted_rows_present', (SELECT COUNT(*) FROM b2g)
           |  UNION ALL SELECT 'cluster', 'keeper_above_doc', (SELECT n FROM c1)
           |  UNION ALL SELECT 'cluster', 'dangling_keepers', (SELECT n FROM c1) + (SELECT n FROM c7)
           |  UNION ALL SELECT 'cluster', 'keeper_not_fixpoint', (SELECT n FROM c20)
           |  UNION ALL SELECT 'cluster', 'duplicate_doc_rows', 2 * (SELECT n FROM c30)
           |  UNION ALL SELECT 'ivf_pq', 'wrong_subspace_count', (SELECT n FROM v0) + (SELECT n FROM v2)
           |  UNION ALL SELECT 'ivf_pq', 'cell_out_of_range', 8 * (SELECT n FROM v1)
           |  UNION ALL SELECT 'ivf_pq', 'duplicate_codes', 8 * (SELECT n FROM v2)
           |  UNION ALL SELECT 'minhash', 'sig_band_id_mismatch',
           |    (SELECT n FROM m1) + (SELECT n FROM m2)
           |  UNION ALL SELECT 'minhash', 'wrong_band_count', (SELECT n FROM m3)
           |)
           |ORDER BY family, "check"""".stripMargin))

  // Repair-apply mode (IndexRepair): replant the SAME corruption set the
  // checker is graded against, run every family's repair, then prove three
  // things in one tall (family, action, n) table the oracle recomputes
  // from the source tables: (1) the repairs reported exactly the planted
  // damage (vacuumed BM25 debris, collapsed duplicates, adopted orphans,
  // finished retractions, dropped partial ids); (2) EVERY IndexFsck
  // invariant reads zero afterwards (the fsck_* rows); (3) membership and
  // content survived — BM25 serves exactly the base corpus's postings,
  // the MinHash drop-and-reappend loop restores full coverage (165 ids),
  // the IVF-PQ codes are exactly m rows per base vector, the cluster map
  // re-solves to the planted connectivity's canonical min-labels, and the
  // aggregate readback equals base+b1+b3 (b2 retracted, b3 adopted). A
  // repair that over-drops, under-heals, or invents connectivity
  // hash-fails one of the three layers.
  private val qIndexRepair = df("q_op_index_repair",
    (spark, dir) => {
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      val planted = plantCorruptedFamilies(spark, dir, base)
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      // The five families repair INDEPENDENTLY (per-dir write leases, or a
      // pure frame), so they run as concurrent jobs like the plant above
      // (guide §2.6; VERDICT r13 #3) — the minhash chain (drop-set capture
      // -> repair -> re-append) stays ordered inside its task, and every
      // repair's report/readback content is unchanged.
      @volatile var repBm: org.apache.spark.sql.DataFrame = null
      @volatile var repMh: org.apache.spark.sql.DataFrame = null
      @volatile var repAgg: org.apache.spark.sql.DataFrame = null
      @volatile var repIvf: org.apache.spark.sql.DataFrame = null
      @volatile var repaired: org.apache.spark.sql.DataFrame = null
      concurrently(
        () => repBm = graft.operators.IndexRepair.repairBm25Index(spark, s"$base/bm25"),
        () => {
          // capture the drop set BEFORE repairing — it names the docs to
          // re-append (the repair's own report only carries the count)
          val mhBad = graft.operators.IndexRepair.minhashInconsistentIds(
            spark, s"$base/mh").localCheckpoint()
          repMh = graft.operators.IndexRepair.repairMinhashIndex(spark, s"$base/mh")
          graft.operators.Dedup.appendMinhashIndex(
            docs.join(mhBad, Seq("doc_id"), "left_semi"), "doc_id", "text", s"$base/mh")
          graft.operators.Checkpoints.free(mhBad) // re-append landed
        },
        () => repAgg = graft.operators.IndexRepair.repairAggState(
          spark, s"$base/agg", aggGroupCols, aggValueCols),
        () => repIvf = graft.operators.IndexRepair.repairIvfPqIndex(spark, s"$base/ivf"),
        () => repaired = graft.operators.IndexRepair.repairClusterAssignment(planted)
          .localCheckpoint())
      val post = graft.operators.IndexFsck.checkMinhash(spark, s"$base/mh")
        .unionAll(graft.operators.IndexFsck.checkBm25(spark, s"$base/bm25"))
        .unionAll(graft.operators.IndexFsck.checkAggState(spark, s"$base/agg"))
        .unionAll(graft.operators.IndexFsck.checkClusterAssignment(repaired))
        .unionAll(graft.operators.IndexFsck.checkIvfPq(spark, s"$base/ivf"))
        .select(col("family"), concat(lit("fsck_"), col("check")).as("action"),
          col("violations").as("n"))
      val mh = graft.operators.Dedup.MinhashIndex.read(spark, s"$base/mh")
      val bm = graft.operators.Retrieval.Bm25Index.read(spark, s"$base/bm25")
      val ivx = graft.operators.Similarity.IvfPqResidualIndex.read(spark, s"$base/ivf")
      val readAgg = graft.operators.AggState.readAggState(
        spark, s"$base/agg", aggGroupCols, aggValueCols)
      def one(family: String, action: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(family).as("family"), lit(action).as("action"), col("n"))
      val readback = one("bm25", "live_doclens_rows", count(lit(1)), bm.doclens)
        .unionAll(one("bm25", "live_posting_rows", count(lit(1)), bm.postings))
        .unionAll(one("minhash", "sig_ids", countDistinct(col("doc_id")), mh.sigs))
        .unionAll(one("minhash", "band_rows", count(lit(1)), mh.bands))
        .unionAll(one("ivf_pq", "code_rows", count(lit(1)), ivx.codes))
        .unionAll(one("cluster", "repaired_rows", count(lit(1)), repaired))
        .unionAll(one("cluster", "repaired_clusters",
          count(when(col("keeper") === col("doc_id"), 1)), repaired))
        .unionAll(one("agg_state", "readback_groups", count(lit(1)), readAgg))
        .unionAll(one("agg_state", "readback_total_cnt", sum(col("cnt")), readAgg))
      repBm.unionAll(repMh).unionAll(repAgg).unionAll(repIvf)
        .unionAll(post).unionAll(readback)
        .orderBy("family", "action")
    },
    Some("""WITH
           |pslice AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
           |           FROM documents WHERE doc_id < 200),
           |aslice AS (SELECT l_returnflag, l_linestatus FROM lineitem
           |           WHERE l_orderkey < 30000
           |             AND (l_orderkey % 4 IN (1, 2, 3) OR l_orderkey % 8 = 4)),
           |b1g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 4 = 3),
           |b2g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 8 = 0),
           |b3g AS (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
           |        WHERE l_orderkey < 30000 AND l_orderkey % 8 = 4),
           |c10 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 10 = 0),
           |c1 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 10 = 1),
           |c7 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 10 = 7),
           |c20 AS (SELECT COUNT(*) AS n FROM customer WHERE c_custkey % 20 = 0),
           |v0 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 0),
           |v1 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 1),
           |v2 AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300 AND vec_id % 50 = 2),
           |vall AS (SELECT COUNT(*) AS n FROM embeddings WHERE vec_id < 300),
           |m1 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id BETWEEN 150 AND 159),
           |m2 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id BETWEEN 160 AND 164),
           |m3 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 5),
           |d165 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 165),
           |d200 AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 200)
           |SELECT family, action, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'agg_state' AS family, 'adopted_orphan_partial_rows' AS action,
           |    (SELECT COUNT(*) FROM b3g) AS n
           |  UNION ALL SELECT 'agg_state', 'collapsed_duplicate_partial_rows', (SELECT COUNT(*) FROM b1g)
           |  UNION ALL SELECT 'agg_state', 'finished_retraction_rows', (SELECT COUNT(*) FROM b2g)
           |  UNION ALL SELECT 'agg_state', 'fsck_duplicate_partials', 0
           |  UNION ALL SELECT 'agg_state', 'fsck_orphan_tag_rows', 0
           |  UNION ALL SELECT 'agg_state', 'fsck_retracted_rows_present', 0
           |  UNION ALL SELECT 'agg_state', 'readback_groups',
           |    (SELECT COUNT(*) FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM aslice))
           |  UNION ALL SELECT 'agg_state', 'readback_total_cnt', (SELECT COUNT(*) FROM aslice)
           |  UNION ALL SELECT 'bm25', 'fsck_broken_parent_chain', 0
           |  UNION ALL SELECT 'bm25', 'fsck_missing_segment_dirs', 0
           |  UNION ALL SELECT 'bm25', 'fsck_orphan_segments', 0
           |  UNION ALL SELECT 'bm25', 'fsck_rows_stat_mismatch', 0
           |  UNION ALL SELECT 'bm25', 'fsck_stat_bounds_mismatch', 0
           |  UNION ALL SELECT 'bm25', 'live_doclens_rows', (SELECT n FROM d200)
           |  UNION ALL SELECT 'bm25', 'live_posting_rows',
           |    (SELECT COUNT(*) FROM (SELECT DISTINCT term, doc_id FROM pslice))
           |  UNION ALL SELECT 'bm25', 'vacuumed_manifests', 0
           |  UNION ALL SELECT 'bm25', 'vacuumed_segments', 1
           |  UNION ALL SELECT 'cluster', 'fsck_dangling_keepers', 0
           |  UNION ALL SELECT 'cluster', 'fsck_duplicate_doc_rows', 0
           |  UNION ALL SELECT 'cluster', 'fsck_keeper_above_doc', 0
           |  UNION ALL SELECT 'cluster', 'fsck_keeper_not_fixpoint', 0
           |  UNION ALL SELECT 'cluster', 'repaired_clusters',
           |    (SELECT n FROM c10) + (SELECT n FROM c1) + 1
           |  UNION ALL SELECT 'cluster', 'repaired_rows',
           |    2 * (SELECT n FROM c10) + 2 * (SELECT n FROM c1)
           |      + (SELECT n FROM c7) + (SELECT n FROM c20) + 1
           |  UNION ALL SELECT 'ivf_pq', 'code_rows', 8 * (SELECT n FROM vall)
           |  UNION ALL SELECT 'ivf_pq', 'collapsed_duplicate_code_rows', 8 * (SELECT n FROM v2)
           |  UNION ALL SELECT 'ivf_pq', 'dropped_ids_for_reappend',
           |    (SELECT n FROM v0) + (SELECT n FROM v1)
           |  UNION ALL SELECT 'ivf_pq', 'dropped_out_of_range_rows', 8 * (SELECT n FROM v1)
           |  UNION ALL SELECT 'ivf_pq', 'fsck_cell_out_of_range', 0
           |  UNION ALL SELECT 'ivf_pq', 'fsck_duplicate_codes', 0
           |  UNION ALL SELECT 'ivf_pq', 'fsck_wrong_subspace_count', 0
           |  UNION ALL SELECT 'minhash', 'band_rows', 8 * (SELECT n FROM d165)
           |  UNION ALL SELECT 'minhash', 'collapsed_duplicate_band_rows', 8 * (SELECT n FROM m3)
           |  UNION ALL SELECT 'minhash', 'dropped_ids_for_reappend',
           |    (SELECT n FROM m1) + (SELECT n FROM m2)
           |  UNION ALL SELECT 'minhash', 'fsck_sig_band_id_mismatch', 0
           |  UNION ALL SELECT 'minhash', 'fsck_wrong_band_count', 0
           |  UNION ALL SELECT 'minhash', 'sig_ids', (SELECT n FROM d165)
           |)
           |ORDER BY family, action""".stripMargin))

  // Manifest-versioned store (VersionedStore): the full lifecycle —
  // create with two tables committed atomically, two appends (the second
  // overlapping, so duplicates are VISIBLE at v3 and compacted at v4),
  // one multi-table rewrite — then read the latest, time-travel to v1/v2/
  // v3, and take the v1->v3 diff (the incremental-processing feed). The
  // oracle recomputes every count/sum from the documents table, so a
  // store that loses a segment, leaks one across versions, breaks
  // multi-table atomicity (toks and docs drifting apart), or diffs the
  // wrong segment set hash-fails.
  private val qVersionedStore = df("q_op_versioned_store",
    (spark, dir) => {
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      def toks(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_toks"))
      val d0 = docs.filter(col("doc_id") < 200)
      val b1 = docs.filter(col("doc_id").between(200, 299))
      val b2 = docs.filter(col("doc_id").between(250, 399)) // overlaps b1
      graft.operators.VersionedStore.create(spark, base,
        Map("docs" -> d0, "toks" -> toks(d0)))
      graft.operators.VersionedStore.append(spark, base,
        Map("docs" -> b1, "toks" -> toks(b1)), note = "b1")
      graft.operators.VersionedStore.append(spark, base,
        Map("docs" -> b2, "toks" -> toks(b2)), note = "b2")
      graft.operators.VersionedStore.rewrite(spark, base, note = "dedupe") { cur =>
        Map("docs" -> cur("docs").dropDuplicates("doc_id"),
          "toks" -> cur("toks").dropDuplicates("doc_id"))
      }
      def one(metric: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(metric).as("metric"), col("n"))
      val latest = graft.operators.VersionedStore.snapshot(spark, base)
      import spark.implicits._
      val versionsRow = Seq(("versions_committed",
        graft.operators.VersionedStore.versions(spark, base).size.toLong))
        .toDF("metric", "n")
      versionsRow
        .unionAll(one("latest_docs_rows", count(lit(1)), latest.table("docs")))
        .unionAll(one("latest_docs_id_sum", sum(col("doc_id")), latest.table("docs")))
        .unionAll(one("latest_toks_total", sum(col("n_toks")), latest.table("toks")))
        .unionAll(one("timetravel_v1_toks_total", sum(col("n_toks")),
          graft.operators.VersionedStore.snapshot(spark, base, Some(1L)).table("toks")))
        .unionAll(one("timetravel_v2_docs_rows", count(lit(1)),
          graft.operators.VersionedStore.snapshot(spark, base, Some(2L)).table("docs")))
        .unionAll(one("timetravel_v3_docs_rows", count(lit(1)),
          graft.operators.VersionedStore.snapshot(spark, base, Some(3L)).table("docs")))
        .unionAll(one("diff_v1_v3_docs_rows", count(lit(1)),
          graft.operators.VersionedStore.diff(spark, base, "docs", 1L, 3L)))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'versions_committed' AS metric, 4 AS n
           |  UNION ALL SELECT 'latest_docs_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'latest_docs_id_sum',
           |    (SELECT SUM(doc_id) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'latest_toks_total',
           |    (SELECT SUM(len(string_split(text, ' '))) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'timetravel_v1_toks_total',
           |    (SELECT SUM(len(string_split(text, ' '))) FROM documents WHERE doc_id < 200)
           |  UNION ALL SELECT 'timetravel_v2_docs_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 300)
           |  UNION ALL SELECT 'timetravel_v3_docs_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 300)
           |      + (SELECT COUNT(*) FROM documents WHERE doc_id BETWEEN 250 AND 399)
           |  UNION ALL SELECT 'diff_v1_v3_docs_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id BETWEEN 200 AND 299)
           |      + (SELECT COUNT(*) FROM documents WHERE doc_id BETWEEN 250 AND 399)
           |)
           |ORDER BY metric""".stripMargin))

  // VersionedStore vacuum + crash-orphan reclamation: plant the
  // crashed-writer shape (a segment with no manifest), vacuum twice at
  // narrowing horizons, and prove reclamation counts AND that the latest
  // version's content survives both sweeps byte-for-value. Counts are
  // structural (segments per commit are deterministic), content is
  // recomputed by the oracle from documents.
  private val qVersionedVacuum = df("q_op_versioned_vacuum",
    (spark, dir) => {
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      graft.operators.VersionedStore.create(spark, base,
        Map("docs" -> docs.filter(col("doc_id") < 100)))
      graft.operators.VersionedStore.append(spark, base,
        Map("docs" -> docs.filter(col("doc_id").between(100, 199))))
      graft.operators.VersionedStore.append(spark, base,
        Map("docs" -> docs.filter(col("doc_id").between(200, 299))))
      graft.operators.VersionedStore.rewrite(spark, base, note = "compact") { cur =>
        Map("docs" -> cur("docs").repartition(1))
      }
      // crashed writer: segment written, commit never happened
      docs.filter(col("doc_id") < 5)
        .write.parquet(s"$base/_segments/orphan-${java.util.UUID.randomUUID().toString.take(8)}")
      val (s1, m1) = graft.operators.VersionedStore.vacuum(spark, base, keepLast = 2)
      val (s2, m2) = graft.operators.VersionedStore.vacuum(spark, base, keepLast = 1)
      val latest = graft.operators.VersionedStore.snapshot(spark, base)
      def one(metric: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(metric).as("metric"), col("n"))
      import spark.implicits._
      Seq(
        ("vacuum1_segments_deleted", s1.toLong),
        ("vacuum1_manifests_deleted", m1.toLong),
        ("vacuum2_segments_deleted", s2.toLong),
        ("vacuum2_manifests_deleted", m2.toLong),
        ("remaining_version", latest.version)).toDF("metric", "n")
        .unionAll(one("after_docs_rows", count(lit(1)), latest.table("docs")))
        .unionAll(one("after_docs_id_sum", sum(col("doc_id")), latest.table("docs")))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'after_docs_rows' AS metric,
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 300) AS n
           |  UNION ALL SELECT 'after_docs_id_sum',
           |    (SELECT SUM(doc_id) FROM documents WHERE doc_id < 300)
           |  UNION ALL SELECT 'remaining_version', 4
           |  UNION ALL SELECT 'vacuum1_segments_deleted', 1
           |  UNION ALL SELECT 'vacuum1_manifests_deleted', 2
           |  UNION ALL SELECT 'vacuum2_segments_deleted', 3
           |  UNION ALL SELECT 'vacuum2_manifests_deleted', 1
           |)
           |ORDER BY metric""".stripMargin))

  // Continuous ingest into the versioned store
  // (StreamingVersioned.versionedIngestStream): two mtime-ordered
  // micro-batches commit as versions v2/v3 through the appendOnce note
  // ledger, then the LAST trigger is replayed by hand — the at-least-once
  // case — and must no-op (version count stays 3, the replay returns the
  // already-committed version). The read proves membership (base UNION
  // both batches, every row exactly once) and the diff-since-v1 feed is
  // exactly the two streamed batches.
  private val qStreamVersioned = df("q_stream_versioned",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") < 200)
      val b1 = docs.filter(col("doc_id").between(200, 299))
      val b2 = docs.filter(col("doc_id").between(300, 399))
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.VersionedStore.create(spark, s"$sdir/st", Map("docs" -> base))
      val inDir = stageMtimeOrderedBatches(sdir, Seq(b1, b2))
      val stream = spark.readStream
        .schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir)
      val q = graft.streaming.StreamingVersioned.versionedIngestStream(
        stream, s"$sdir/st", "docs", checkpointDir = s"$sdir/ckpt")
      q.processAllAvailable()
      q.stop()
      // at-least-once: replay the last trigger's body verbatim — the note
      // ledger must make it a no-op, not a fourth version
      val replayV = graft.streaming.StreamingVersioned.versionedIngestBatch(
        b2, s"$sdir/st", "docs", "t_1")
      val latest = graft.operators.VersionedStore.snapshot(spark, s"$sdir/st")
      def one(metric: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(metric).as("metric"), col("n"))
      import spark.implicits._
      Seq(
        ("versions_committed",
          graft.operators.VersionedStore.versions(spark, s"$sdir/st").size.toLong),
        ("replay_noop_version", replayV)).toDF("metric", "n")
        .unionAll(one("latest_rows", count(lit(1)), latest.table("docs")))
        .unionAll(one("latest_id_sum", sum(col("doc_id")), latest.table("docs")))
        .unionAll(one("diff_since_v1_rows", count(lit(1)),
          graft.operators.VersionedStore.diff(spark, s"$sdir/st", "docs",
            1L, latest.version)))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'diff_since_v1_rows' AS metric,
           |    (SELECT COUNT(*) FROM documents WHERE doc_id BETWEEN 200 AND 399) AS n
           |  UNION ALL SELECT 'latest_id_sum',
           |    (SELECT SUM(doc_id) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'latest_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'replay_noop_version', 3
           |  UNION ALL SELECT 'versions_committed', 3
           |)
           |ORDER BY metric""".stripMargin))

  // Segment-level statistics + range-pruned reads (VersionedStore): four
  // appended segments with disjoint id ranges; a range read spanning two
  // of them must open EXACTLY those two segments' files (counted from
  // inputFiles — the I/O pin, not just the answer) while returning
  // exactly the full-scan filter's rows; rowCount comes from the manifest
  // alone. A stats writer that records wrong bounds either over-opens
  // (segments_scanned mismatch) or silently drops rows (range_rows /
  // id-sum mismatch) — both hash-fail.
  private val qVersionedPrune = df("q_op_versioned_prune",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.VersionedStore.create(spark, base,
        Map("docs" -> docs.filter(col("doc_id") < 100)))
      Seq((100, 199), (200, 299), (300, 399)).foreach { case (lo, hi) =>
        graft.operators.VersionedStore.append(spark, base,
          Map("docs" -> docs.filter(col("doc_id").between(lo, hi))))
      }
      val snap = graft.operators.VersionedStore.snapshot(spark, base)
      val pruned = snap.tableRange("docs", "doc_id", 150L, 249L)
      val scanned = pruned.inputFiles
        .map(f => f.split("/_segments/")(1).split("/")(0)).distinct.length
      def one(metric: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(metric).as("metric"), col("n"))
      import spark.implicits._
      Seq(
        ("rowcount_meta", snap.rowCount("docs")),
        ("segments_total", snap.manifest.tables("docs").size.toLong),
        ("segments_scanned", scanned.toLong)).toDF("metric", "n")
        .unionAll(one("range_rows", count(lit(1)), pruned))
        .unionAll(one("range_id_sum", sum(col("doc_id")), pruned))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'range_id_sum' AS metric,
           |    (SELECT SUM(doc_id) FROM documents WHERE doc_id BETWEEN 150 AND 249) AS n
           |  UNION ALL SELECT 'range_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id BETWEEN 150 AND 249)
           |  UNION ALL SELECT 'rowcount_meta',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 400)
           |  UNION ALL SELECT 'segments_scanned', 2
           |  UNION ALL SELECT 'segments_total', 4
           |)
           |ORDER BY metric""".stripMargin))

  // The FIFTH family joins the auditor (IndexFsck.checkVersionedStore):
  // plant all five violation classes — an externally deleted segment
  // referenced by an old version, a crashed writer's orphan segment, and
  // a hand-planted manifest that breaks the parent chain and carries
  // wrong row/bound stamps (wrong stats make range pruning silently DROP
  // rows, the worst shape) — then heal: restampStats fixes the stat
  // classes from the stored bytes, vacuum reclaims the structural ones,
  // and the post-audit reads all-zeros while the surviving table's
  // content is exactly the DuckDB recompute.
  private val qVersionedFsck = df("q_op_versioned_fsck",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      val base = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      graft.operators.VersionedStore.create(spark, base, Map(
        "docs" -> docs.filter(col("doc_id") < 100),
        "lens" -> docs.filter(col("doc_id") < 100).select(col("doc_id"))))
      val v1segs = graft.operators.VersionedStore.snapshot(spark, base)
        .manifest.tables("docs").map(_.name)
      graft.operators.VersionedStore.rewrite(spark, base, note = "retention") { cur =>
        Map("docs" -> cur("docs").filter(col("doc_id") < 60),
          "lens" -> cur("lens").filter(col("doc_id") < 60))
      }
      // plant 1: external deletion of a segment only v1 references
      val hconf = spark.sessionState.newHadoopConf()
      val segPath = new org.apache.hadoop.fs.Path(s"$base/_segments/${v1segs.head}")
      segPath.getFileSystem(hconf).delete(segPath, true)
      // plant 2: a crashed writer's orphan segment
      docs.filter(col("doc_id") < 5)
        .write.parquet(s"$base/_segments/orphan-fsck")
      // plant 3: a hand-planted manifest — skips v3 (broken parent chain)
      // and stamps wrong stats (rows +5 on docs, min -10 on lens)
      val m2 = graft.operators.VersionedStore.snapshot(spark, base).manifest
      val d2 = m2.tables("docs").head
      val l2 = m2.tables("lens").head
      graft.operators.VersionedStore.commit(spark, base,
        graft.operators.VersionedStore.Manifest(4L, 2L, "planted", Map(
          "docs" -> Seq(d2.copy(rows = d2.rows + 5)),
          "lens" -> Seq(l2.copy(min = l2.min.updated("doc_id",
            l2.min("doc_id") - 10))))))
      val pre = graft.operators.IndexFsck.checkVersionedStore(spark, base)
        .select(concat(lit("pre_"), col("check")).as("metric"),
          col("violations").as("n"))
      // heal: stats from the bytes, structure from the vacuum
      graft.operators.VersionedStore.restampStats(spark, base)
      val (vs, vm) = graft.operators.VersionedStore.vacuum(spark, base, keepLast = 1)
      val post = graft.operators.IndexFsck.checkVersionedStore(spark, base)
        .select(concat(lit("post_"), col("check")).as("metric"),
          col("violations").as("n"))
      val healed = graft.operators.VersionedStore.snapshot(spark, base)
      def one(metric: String, v: org.apache.spark.sql.Column,
              from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("bigint").as("n"))
          .select(lit(metric).as("metric"), col("n"))
      import spark.implicits._
      Seq(
        ("vacuum_segments_deleted", vs.toLong),
        ("vacuum_manifests_deleted", vm.toLong),
        ("rowcount_meta", healed.rowCount("docs"))).toDF("metric", "n")
        .unionAll(pre).unionAll(post)
        .unionAll(one("after_rows", count(lit(1)), healed.table("docs")))
        .unionAll(one("after_id_sum", sum(col("doc_id")), healed.table("docs")))
        .orderBy("metric")
    },
    Some("""SELECT metric, CAST(n AS BIGINT) AS n FROM (
           |  SELECT 'after_id_sum' AS metric,
           |    (SELECT SUM(doc_id) FROM documents WHERE doc_id < 60) AS n
           |  UNION ALL SELECT 'after_rows',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 60)
           |  UNION ALL SELECT 'rowcount_meta',
           |    (SELECT COUNT(*) FROM documents WHERE doc_id < 60)
           |  UNION ALL SELECT 'pre_broken_parent_chain', 1
           |  UNION ALL SELECT 'pre_missing_segment_dirs', 1
           |  UNION ALL SELECT 'pre_orphan_segments', 1
           |  UNION ALL SELECT 'pre_rows_stat_mismatch', 1
           |  UNION ALL SELECT 'pre_stat_bounds_mismatch', 1
           |  UNION ALL SELECT 'post_broken_parent_chain', 0
           |  UNION ALL SELECT 'post_missing_segment_dirs', 0
           |  UNION ALL SELECT 'post_orphan_segments', 0
           |  UNION ALL SELECT 'post_rows_stat_mismatch', 0
           |  UNION ALL SELECT 'post_stat_bounds_mismatch', 0
           |  UNION ALL SELECT 'vacuum_segments_deleted', 2
           |  UNION ALL SELECT 'vacuum_manifests_deleted', 3
           |)
           |ORDER BY metric""".stripMargin))

  // The incremental-pipeline capstone, chaining the round's families:
  // versioned corpus in (idempotent appends), quality verdicts over ONLY
  // the diff since the consumer's checkpoint version, folded into a
  // materialized aggregate rollup — the base corpus is processed exactly
  // once and NEVER rescanned; each increment costs diff-sized work. The
  // oracle recomputes the rollup from scratch over the full corpus, so a
  // diff that misses a segment, a fold that double-counts, or a verdict
  // drift between the base and incremental passes hash-fails.
  private val qPipelineIncremental = df("q_pipeline_incremental_curate",
    (spark, dir) => {
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val sdir = s"$bm25IdxScratch/${java.util.UUID.randomUUID().toString.take(8)}"
      def verdicts(d: org.apache.spark.sql.DataFrame) = d.select(col("lang"),
          size(split(col("text"), " ")).cast("bigint").as("n_toks"))
        .withColumn("kept", when(col("n_toks").between(15, 80), 1L).otherwise(0L))
        .select("lang", "kept", "n_toks")
      graft.operators.VersionedStore.create(spark, s"$sdir/corpus",
        Map("docs" -> docs.filter(col("doc_id") < 200)))
      // the consumer processes its checkpoint version ONCE into the rollup
      val v1 = graft.operators.VersionedStore.snapshot(spark, s"$sdir/corpus")
      graft.operators.AggState.writeAggState(verdicts(v1.table("docs")),
        s"$sdir/roll", Seq("lang", "kept"), Seq("n_toks"))
      // two ingest batches land (idempotent, at-least-once-safe appends)
      graft.operators.VersionedStore.appendOnce(spark, s"$sdir/corpus",
        Map("docs" -> docs.filter(col("doc_id").between(200, 299))), "b_0")
      graft.operators.VersionedStore.appendOnce(spark, s"$sdir/corpus",
        Map("docs" -> docs.filter(col("doc_id").between(300, 399))), "b_1")
      // the incremental pass: verdicts over ONLY the diff, one batch-sized fold
      val latest = graft.operators.VersionedStore.snapshot(spark, s"$sdir/corpus")
      val delta = graft.operators.VersionedStore.diff(spark, s"$sdir/corpus",
        "docs", v1.version, latest.version)
      graft.operators.AggState.foldAggState(verdicts(delta), s"$sdir/roll",
        s"inc_${latest.version}", Seq("lang", "kept"), Seq("n_toks"))
      graft.operators.AggState.readAggState(spark, s"$sdir/roll",
        Seq("lang", "kept"), Seq("n_toks")).orderBy("lang", "kept")
    },
    Some("""WITH v AS (
           |  SELECT lang,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
           |  FROM documents WHERE doc_id < 400
           |), k AS (
           |  SELECT lang,
           |    CAST(CASE WHEN n_toks BETWEEN 15 AND 80 THEN 1 ELSE 0 END AS BIGINT) AS kept,
           |    n_toks
           |  FROM v
           |)
           |SELECT lang, kept,
           |  CAST(COUNT(*) AS BIGINT) AS cnt,
           |  CAST(SUM(CAST(n_toks AS DECIMAL(38,6))) AS DOUBLE) AS sum_n_toks,
           |  MIN(n_toks) AS min_n_toks,
           |  MAX(n_toks) AS max_n_toks
           |FROM k GROUP BY lang, kept ORDER BY lang, kept""".stripMargin))

  val all: Seq[QueryDef] = Seq(
    qIndexFsck, qIndexRepair, qVersionedStore, qVersionedVacuum, qStreamVersioned,
    qVersionedPrune, qVersionedFsck, qPipelineIncremental,
    qUrlDedup, qPageRank, qHllTokens, qRobotsGate, qDistill, qCountMin, qInvertedIndex, qBm25,
    qBm25Index, qBm25IndexAppend, qBm25IndexCompact, qStreamBm25Indexed,
    qHybridRrfIndexed, qAggState, qAggStateCompact, qAggStateRetract, qStreamAggState,
    qSnapshotDiff, qSkewDiag, qEntityRes, qGoldenRecord, qDqProfile, qDqChecks, qWordPiece, qUnigram, qUnigramEm,
    qMinhashApi, qAnnApi, qAnnIvf, qAnnIvf2, qAnnRecall, qAnnRecall2,
    qAnnRecall4, qAnnRecall8, qAnnRecallLloyd, qAnnPq, qAnnIvfPq,
    qAnnRecall256, qAnnRecall256R2, qAnnRecall256R3,
    qAnnIvfPqResidual, qAnnIvfPqRecall, qAnnIvfAdcRerank, qAnnIvfAdcStore,
    qAnnIvfAdcAppend, qAnnIvfAdcCompact, qStreamAnnIndexed,
    qSemDedup, qSemanticSort,
    qHardNegatives, qQualityApi, qMultimodalApi,
    qMultimodalPatches, qMultimodalDecode, qMultimodalAudio, qMultimodalVideo,
    qDecontaminate, qBpeApi, qBpeEncode, qTokenizePack, qEmbedPool, qSaltedJoin, qAsofJoin, qRangeJoin, qIntervalJoin, qJoinNonEquiCdf, qWeightedSample, qKmeans,
    qDedupClusters, qLeakageSplit, qStreamHourly, qStreamSessions, qStreamDedup, qStreamDistinct, qStreamCountMin, qStreamJoin, qStreamActivity)
}
