package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute force is the correctness baseline (queries broadcast against the
  * corpus — one pass, no shuffle of the corpus). The scale path buckets the
  * corpus by sign-bit LSH so each probe scans corpus/2^nBits on average;
  * both return exact cosine scores for whatever candidates they consider.
  */
object Similarity {

  private def withNorm(vectors: DataFrame, idCol: String, vecCol: String) = {
    graft.functions.TajoFunctions.register(vectors.sparkSession)
    vectors.select(col(idCol), col(vecCol).as("__vec"))
      .withColumn("__nrm", expr(s"SQRT(${HashSpec.dotNative("__vec", "__vec")})"))
  }

  /** Exact top-k neighbors for each probe vector (brute force).
    * `probes` and `corpus` share the (idCol, vecCol) schema. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                     vecCol: String, k: Int = 10): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("__vec").as("vc"), col("__nrm").as("nc"))
    val q = withNorm(probes, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("__vec").as("vq"), col("__nrm").as("nq"))
    // broadcast the probes (small side) against the corpus scan
    val joined = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr(s"${HashSpec.dotNative("vq", "vc")} / (nq * nc)"))
    joined
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rnk")
  }

  /** Recall@k of an approximate ANN result against the exact brute-force
    * ground truth — "measure, don't guess" for the IVF/LSH recall knobs
    * (nProbe, bands): per query, the number of exact top-k neighbors the
    * approximate search recovered, and the recall as an integer ppm floor
    * division. Both inputs are (query_id, neighbor_id, ...) top-k tables.
    *
    * Scale: one equi-join on (query, neighbor) between two k-per-query
    * tables (both probe-set-sized, NOT corpus-sized) + one partial+final
    * count — evaluating recall costs the brute-force ground truth on the
    * PROBE SAMPLE only, the standard way recall is audited at scale. */
  def annRecall(ann: DataFrame, exact: DataFrame): DataFrame =
    // distinct BOTH sides: a multi-probe ANN shape can emit the same
    // (query, neighbor) once per probe/band, and a fanned-out left join
    // would inflate k and hits together (recall_ppm could exceed 1e6)
    exact.select(col("query_id"), col("neighbor_id")).distinct()
      .join(ann.select(col("query_id"), col("neighbor_id")).distinct()
          .withColumn("hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"), sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000 DIV k"))

  /** IVF (inverted-file) ANN: the corpus-vs-corpus scale path.
    *
    * Unlike [[bruteForceTopK]]/[[lshTopK]], NOTHING here broadcasts the
    * probe set — probes and corpus both shuffle on their assigned cell id,
    * so the probe side can be another 100 TB corpus. Structure:
    *
    *   1. initial cells = sign-bit LSH buckets (deterministic hyperplanes);
    *   2. one Lloyd refinement: per-cell centroid, then every vector
    *      (corpus AND probe) re-assigned to its nearest centroid;
    *   3. candidates = cell-equi-join, exact cosine, windowed top-k.
    *
    * Centroids are FIXED-POINT BIGINT element sums
    * (`SUM(FLOOR(x * 1e6))`): cosine is scale-invariant in the centroid, so
    * the un-normalized integer sum ranks identically to the mean while
    * keeping every arithmetic step engine-exact (no double-sum ordering, no
    * double→DECIMAL rounding ties) — the DuckDB oracle reproduces the
    * assignment bit-for-bit. Centroid argmax is a map-side
    * `max(struct(score, -cid, …))` partial aggregation (ties to the lowest
    * cell id), so re-assignment costs one ordinary groupBy shuffle.
    *
    * 100 TB notes: the centroid table is K rows (broadcast is always safe —
    * it is K×dim longs, independent of data size); the cell join shuffles
    * corpus/K per cell, so size K ~ sqrt(corpus) for balanced cells and
    * salt hot cells (Skew.saltedJoin) if the embedding distribution is
    * lopsided. `nProbe` > 1 scans each probe's nProbe nearest cells
    * (candidates stay disjoint — every corpus vector lives in exactly one
    * cell), trading nProbe× probe-side join fan-out for recall.
    *
    * `iters` = Lloyd refinement rounds for the centroids (the KMeans.lloyd
    * loop specialized to the IVF fixed-point discipline): each extra round
    * is one corpus-wide partial+final aggregation plus one K-row broadcast
    * re-assignment — linear cost, no extra shuffle class. Trained centroids
    * tighten cells so a query's true neighbors co-locate more often; on
    * embeddings with real cluster structure this is the cheap recall knob,
    * on isotropic-random vectors (the synthetic fixture) the measured gain
    * is small and nProbe is the knob that pays (see ROADMAP.md recall
    * curve). iters=1 reproduces the original single-refinement behavior.
    *
    * `corpusAssign` = index-side redundancy (spill-tree / FLANN-style
    * multi-assignment): each CORPUS vector is indexed in its
    * `corpusAssign` nearest cells, so a true neighbor sitting just across
    * a Voronoi boundary is still reachable from the probe's cells. Storage
    * and scan cost scale by the factor r; on the isotropic synthetic
    * fixture this is the knob that lifts 256-cell recall@5 from 53% to
    * 69%/78%/84% at r=2/3/4, nProbe=16 held fixed (200-probe sf0.1 set —
    * SCALING.md; the 20-probe oracle subset reads a few points higher,
    * ~58% single-assign, and a NumPy ideal-float k-means replica measures
    * the same, so the ceiling is a data property, not an implementation
    * artifact). With r > 1 a (query, neighbor) pair can co-occur in
    * several probed cells, so candidates collapse through one extra
    * (query, neighbor) groupBy before the top-k window (cos_sim is
    * identical across the duplicates; the surviving `cell` is the
    * smallest, purely for determinism).
    */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nBits: Int = 4, dim: Int = 64,
              nProbe: Int = 1, iters: Int = 1, corpusAssign: Int = 1): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(corpusAssign >= 1, s"need corpusAssign >= 1, got $corpusAssign")
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    def initial(df: DataFrame) = withNorm(df, idCol, vecCol)
      .withColumn("__cell0", expr(HashSpec.lshBucketNative("__vec", nBits, dim)))
    val c0 = initial(corpus)
    // fixed-point elementwise centroid sums per assigned cell
    // The K-row centroid table feeds BOTH assignment branches (corpus and
    // probes); the branches share one canonical subplan, so Spark's
    // exchange reuse evaluates the corpus-wide aggregation once
    // (OperatorsSpec pins the ReusedExchange; an eager localCheckpoint was
    // measured slower — it serializes an extra job before the main query).
    def centroids(assigned: DataFrame, cellCol: String): DataFrame = assigned
      .select(col(cellCol).as("cid"), posexplode(col("__vec")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("m"))
      .groupBy("cid")
      .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, m))), s -> s.m)").as("cvec"))
      .withColumn("cnrm", expr(s"SQRT(${HashSpec.dotNative("cvec", "cvec")})"))
    var cent = centroids(c0, "__cell0")
    def scored(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(cent))
        .withColumn("__score", expr(s"${HashSpec.dotNative("__vec", "cvec")} / cnrm"))
    // nearest cell via map-side max(struct) — partial aggregation, ties to
    // the lowest cell id (the -cid field compares before the payload)
    def assign(df: DataFrame): DataFrame =
      scored(df)
        .groupBy(col(idCol))
        .agg(max(struct(col("__score").as("s"), (lit(0) - col("cid")).as("nc"),
          col("__vec").as("v"), col("__nrm").as("n"))).as("b"))
        .select(col(idCol), (lit(0) - col("b.nc")).as("cell"),
          col("b.v").as("__vec"), col("b.n").as("__nrm"))
    // top-n cells per probe (windowed; only the probe side ever needs n>1)
    def assignTopN(df: DataFrame, n: Int): DataFrame =
      if (n <= 1) assign(df)
      else scored(df)
        .withColumn("__cr", row_number().over(
          Window.partitionBy(col(idCol)).orderBy(col("__score").desc, col("cid"))))
        .filter(col("__cr") <= n)
        .select(col(idCol), col("cid").as("cell"), col("__vec"), col("__nrm"))
    // Lloyd rounds 2..iters: re-centroid over the previous round's
    // assignment, then the next `scored`/`assign` closes over the new table
    for (_ <- 2 to iters)
      cent = centroids(assign(c0), "cell")
    val ca = assignTopN(c0, corpusAssign)
      .select(col(idCol).as("neighbor_id"), col("cell"), col("__vec").as("vc"), col("__nrm").as("nc"))
    val qa = assignTopN(initial(probes), nProbe)
      .select(col(idCol).as("query_id"), col("cell"), col("__vec").as("vq"), col("__nrm").as("nq"))
    val joined = ca.join(qa, Seq("cell")) // both sides shuffle on cell — no probe broadcast
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr(s"${HashSpec.dotNative("vq", "vc")} / (nq * nc)"))
    // r=1 keeps the original single-cell pair stream; r>1 collapses the
    // multi-assignment duplicates (identical cos_sim, lowest cell wins)
    val paired =
      if (corpusAssign <= 1) joined
      else joined.groupBy(col("query_id"), col("neighbor_id"))
        .agg(min(col("cell")).as("cell"), max(col("cos_sim")).as("cos_sim"))
    paired
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cell", "cos_sim", "rnk")
  }

  /** Product-quantization ANN (the IVF-PQ compression half): each vector
    * splits into `m` subvectors; per subspace a 2^nBits-entry codebook is
    * built deterministically (LSH-seeded cells, fixed-point micro-unit
    * centroid means) and every subvector is coded as its L2-nearest
    * centroid (ties to the lowest cell id). A document then occupies
    * m small codes — 8 codes of 4 bits here vs 64 floats, a 64x
    * compression — and query scoring is ADC (asymmetric distance
    * computation): the query precomputes a (m x 2^nBits)-entry partial-dot
    * table, broadcast everywhere, and scanning the corpus is a lookup+add
    * per (doc, subspace), no float dot against raw vectors.
    *
    * Determinism: partial dots are floored to BIGINT micro-units before
    * the per-(query, doc) sum, so accumulation order can't move a bit and
    * the DuckDB oracle replays codebooks, codes, and every ranking
    * exactly. Returns (query_id, neighbor_id, adot_micro, rnk).
    *
    * Scale: the codebook is m * 2^nBits rows (fixed) and the ADC table
    * queries * m * 2^nBits rows — both broadcast; the corpus is touched
    * once to code (explode by m, one agg) and once to scan. Nothing
    * data-sized broadcasts, the scan is a single shuffle on
    * (query, neighbor) for the final sum. Deployments persist `codebook`
    * and `codes` (the index) and run only the scan per probe batch —
    * SCALING §8b. */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
             vecCol: String, k: Int = 10, m: Int = 8, dim: Int = 64,
             nBits: Int = 4): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    val subDim = dim / m
    def subs(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      posexplode(expr(
        s"TRANSFORM(SEQUENCE(0, ${m - 1}), s -> SLICE($vecCol, s * $subDim + 1, $subDim))"))
        .as(Seq("s", "sub")))
    val csubs = subs(corpus, "__cid")
    val codebook = csubs
      .withColumn("cell0", expr(s"lsh_bucket(sub, $nBits, $subDim)"))
      .select(col("s"), col("cell0").as("cid"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy("s", "cid", "i")
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("ms"),
        count("*").as("cnt"))
      .withColumn("mm", expr("ms DIV cnt"))
      .groupBy("s", "cid")
      .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mm))), t -> t.mm)").as("cvec"))
    // code assignment: L2-nearest centroid per (vector, subspace), the
    // squared distance folded left-to-right so the oracle replays it
    val l2 = "AGGREGATE(ZIP_WITH(sub, cvec, (x, c) -> " +
      "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000) * " +
      "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000)), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val codes = csubs.join(broadcast(codebook), Seq("s"))
      .withColumn("d2", expr(l2))
      .groupBy(col("__cid"), col("s"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col("__cid"), col("s"), col("b.cid").as("code"))
    // ADC table: per (query, subspace, centroid) partial dot in micro units
    val adc = subs(probes, "__qid").join(broadcast(codebook), Seq("s"))
      .withColumn("pd", expr(
        s"CAST(FLOOR(${HashSpec.dotNative("sub", "cvec")}) AS BIGINT)"))
      .select(col("__qid"), col("s"), col("cid"), col("pd"))
    codes.join(broadcast(adc),
        codes("s") === adc("s") && codes("code") === adc("cid"))
      .filter(col("__qid") =!= col("__cid"))
      .groupBy(col("__qid"), col("__cid"))
      .agg(sum(col("pd")).as("adot_micro"))
      .withColumn("rnk", row_number().over(Window.partitionBy("__qid")
        .orderBy(col("adot_micro").desc, col("__cid"))))
      .filter(col("rnk") <= k)
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("adot_micro"), col("rnk").cast("bigint").as("rnk"))
  }

  /** IVF-PQ: the composed billion-scale ANN layout — IVF cells prune the
    * candidate set (each probe scans only its own cell, ~corpus/K), PQ
    * codes compress what remains (m codes per vector) and ADC lookup
    * tables score it without touching raw vectors. Both halves are the
    * deterministic machinery of [[ivfTopK]] and [[pqTopK]]; the oracle
    * replays cells, codebooks, codes, and the ranking end to end.
    *
    * Scale: centroids, codebooks, and the ADC table are all bounded
    * broadcasts; the corpus is read to assign + code (aggregation
    * pipelines), and the scan shuffles only (probe, neighbor, partial)
    * rows from the probe's own cell. Returns (query_id, neighbor_id,
    * cell, adot_micro, rnk). Deployments persist `cent`/`codebook`/`codes`
    * (the index) and run only the query half per probe batch — see
    * SCALING §8b for why the composed demo does NOT checkpoint inline. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                vecCol: String, k: Int = 10, nBits: Int = 4, dim: Int = 64,
                m: Int = 8, pqBits: Int = 4): DataFrame = {
    // NOTE (r13, measured): stage checkpoints were tried here (the
    // ivfPqResidualTopK discipline) and measured NEUTRAL-to-SLOWER at
    // fixture scale — this plan is only ~half as deep as the residual
    // one, and the serialized materialization jobs cost more than the
    // re-evaluated small aggregates they save (same verdict as ivfTopK's
    // ReusedExchange note). Reverted; the persisted path remains the
    // at-scale answer.
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    val subDim = dim / m
    // ---- IVF half: cell assignment exactly as ivfTopK
    def initial(df: DataFrame) = withNorm(df, idCol, vecCol)
      .withColumn("__cell0", expr(HashSpec.lshBucketNative("__vec", nBits, dim)))
    val c0 = initial(corpus)
    val cent = c0
      .select(col("__cell0").as("cid"), posexplode(col("__vec")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("mc"))
      .groupBy("cid")
      .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mc))), s -> s.mc)").as("ivec"))
      .withColumn("inrm", expr(s"SQRT(${HashSpec.dotNative("ivec", "ivec")})"))
    def assign(df: DataFrame): DataFrame = df.crossJoin(broadcast(cent))
      .withColumn("__score", expr(s"${HashSpec.dotNative("__vec", "ivec")} / inrm"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__score").as("s"), (lit(0) - col("cid")).as("nc"))).as("b"))
      .select(col(idCol), (lit(0) - col("b.nc")).as("cell"))
    val corpusCells = assign(c0)
    val probeCells = assign(initial(probes))
    // ---- PQ half: codebooks + codes + ADC, exactly as pqTopK
    def subs(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      posexplode(expr(
        s"TRANSFORM(SEQUENCE(0, ${m - 1}), s -> SLICE($vecCol, s * $subDim + 1, $subDim))"))
        .as(Seq("s", "sub")))
    val csubs = subs(corpus, "__cid")
    val codebook = csubs
      .withColumn("cell0", expr(s"lsh_bucket(sub, $pqBits, $subDim)"))
      .select(col("s"), col("cell0").as("cid"), posexplode(col("sub")).as(Seq("i", "x")))
      .groupBy("s", "cid", "i")
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("ms"),
        count("*").as("cnt"))
      .withColumn("mm", expr("ms DIV cnt"))
      .groupBy("s", "cid")
      .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mm))), t -> t.mm)").as("cvec"))
    val l2 = "AGGREGATE(ZIP_WITH(sub, cvec, (x, c) -> " +
      "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000) * " +
      "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000)), " +
      "CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val codes = csubs.join(broadcast(codebook), Seq("s"))
      .withColumn("d2", expr(l2))
      .groupBy(col("__cid"), col("s"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col("__cid"), col("s"), col("b.cid").as("code"))
    val adc = subs(probes, "__qid").join(broadcast(codebook), Seq("s"))
      .withColumn("pd", expr(
        s"CAST(FLOOR(${HashSpec.dotNative("sub", "cvec")}) AS BIGINT)"))
      .select(col("__qid"), col("s"), col("cid"), col("pd"))
    // ---- the composed scan: same-cell candidates only, ADC-scored
    val codedCells = codes
      .join(corpusCells.select(col(idCol).as("__cid"), col("cell")), Seq("__cid"))
    val probeSide = broadcast(adc
      .join(probeCells.select(col(idCol).as("__qid"), col("cell").as("__qcell")), Seq("__qid")))
    codedCells.join(probeSide,
        codedCells("s") === probeSide("s") && codedCells("code") === probeSide("cid") &&
          codedCells("cell") === probeSide("__qcell"))
      .filter(col("__qid") =!= col("__cid"))
      .groupBy(col("__qid"), col("__cid"), col("cell"))
      .agg(sum(col("pd")).as("adot_micro"))
      .withColumn("rnk", row_number().over(Window.partitionBy("__qid")
        .orderBy(col("adot_micro").desc, col("__cid"))))
      .filter(col("rnk") <= k)
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("cell"), col("adot_micro"), col("rnk").cast("bigint").as("rnk"))
  }

  /** IVF-PQ with RESIDUAL encoding — the canonical IVFADC layout (Jégou et
    * al. 2011): vectors are PQ-coded relative to their cell centroid
    * (x − c), not raw, so the codebooks spend their 2^pqBits entries on the
    * small within-cell displacements instead of the whole embedding space —
    * the standard precision upgrade over [[ivfPqTopK]]'s raw-vector coding.
    * Scoring is the canonical L2 ADC: the query's residual (w.r.t. ITS
    * assigned cell — the same cell its candidates come from) precomputes a
    * (m × 2^pqBits) table of per-subspace squared distances, and candidates
    * rank by the summed table lookups, ASCENDING (returns l2_micro — the
    * micro-unit integer distance — so smaller is nearer).
    *
    * Engine-exact by construction: cell means use the pmod floor-division
    * identity `(mc - pmod(mc, cnt)) / cnt` (Spark's DIV truncates toward
    * zero while DuckDB's // floors — on the NEGATIVE sums an embedding's
    * components produce, the two disagree by one micro unit, which here
    * would leak into the OUTPUT distances, not just a ranking tie);
    * residuals are then single IEEE double subtractions, per-subspace
    * distances left-fold in both engines, and each ADC entry floors to
    * BIGINT micro units before the final integer sum.
    *
    * Scale: identical shape to [[ivfPqTopK]] — centroid/codebook/ADC tables
    * all bounded broadcasts, corpus touched once to build the centroids +
    * once to assign and encode, candidates shuffle only within the probe's
    * cell. This is the one-call demo of the build/query split: the build
    * ([[buildIvfPqResidualIndex]]'s stages) checkpoints each stage once
    * (`localCheckpoint`), then [[queryIvfPqResidual]] runs on it. A
    * deployment persists the build instead ([[writeIvfPqResidualIndex]])
    * and runs only the query half per batch.
    *
    * `nProbe` — multi-probe: each query builds one residual + ADC table
    * PER probed cell (its nProbe nearest — the canonical IVFADC
    * formulation, where residuals are always relative to the cell being
    * scanned), widening the candidate set from corpus/K to nProbe·corpus/K
    * at nProbe× ADC-table cost. Candidate (query, neighbor) pairs stay
    * unique — a corpus vector lives in exactly one cell.
    *
    * `rerank` > 0 — IVFADC+R (Jégou et al. 2011, "re-ranking with source
    * coding"): the top-`rerank` ADC candidates per query are re-scored by
    * EXACT cosine against the raw vectors and the top-k of that re-ranking
    * is returned (schema becomes (query_id, neighbor_id, cell, cos_sim,
    * rnk) — exact scores, not l2_micro). Cost: one id-equi-join of
    * probes×rerank candidate rows against the corpus — bounded by the
    * probe count, never corpus×corpus. Measured on the sf0.1 fixture
    * (full table in SCALING.md): raw 32-bit ADC recall@5 is 6.6%;
    * nProbe=8 + rerank=50 reaches 36.2% (code quality binds, not cell
    * pruning); richer codes m=16/pqBits=8 (16-byte codes, 16x
    * compression) reach 71.5% there, and rerank=200 recovers the
    * nProbe=8 cell ceiling (74.8%) EXACTLY — the canonical IVFADC+R
    * result: spend bits or spend re-ranking, the ceiling is the cells.
    *
    * PRECONDITION: corpus ids unique (see [[buildIvfPqResidualIndex]]). */
  def ivfPqResidualTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
                        vecCol: String, k: Int = 10, nBits: Int = 4,
                        dim: Int = 64, m: Int = 8, pqBits: Int = 4,
                        nProbe: Int = 1, rerank: Int = 0): DataFrame = {
    // each stage is checkpointed ONCE (eager localCheckpoint) and the next
    // builds on it: the lazy composed plan re-evaluated the build at every
    // consumer (32+ corpus scans in one query DAG at fixture scale,
    // measured). The residual stage is not reachable from the returned
    // plan, so it is freed once codes is; the three surviving checkpoints
    // ARE the returned plan, freed by the caller after its terminal action
    // (the bench and verify harnesses sweep them per query). A consumer
    // that joins this output against another arm over the same corpus
    // (the recall audit) composes the lazy build with the query instead:
    // exchange reuse shares its stages across the one DAG.
    val index = ivfPqBuild(corpus, idCol, vecCol, nBits, dim, m, pqBits)(
      (_, df) => df.localCheckpoint(), Checkpoints.free(_))
    queryIvfPqResidual(index, corpus, probes, idCol, vecCol, k, dim, m, nProbe, rerank)
  }

  /** Build parameters of a persisted [[IvfPqResidualIndex]], stamped into
    * `dir/_meta.json` by [[writeIvfPqResidualIndex]] — the same
    * quiet-failure guard as [[graft.operators.Dedup.MinhashMeta]]: an
    * append or query under a different (dim, m) would slice residuals
    * into the wrong subspace layout and encode garbage SILENTLY. */
  final case class IvfPqMeta(nBits: Int, dim: Int, m: Int, pqBits: Int)

  object IvfPqMeta {
    def write(spark: SparkSession, dir: String, m: IvfPqMeta): Unit =
      IndexFiles.writeFileSwap(spark, dir, "_meta.json",
        s"""{"nBits":${m.nBits},"dim":${m.dim},"m":${m.m},"pqBits":${m.pqBits}}"""
          .getBytes("UTF-8"))

    /** None for a directory that holds no tag. */
    def read(spark: SparkSession, dir: String): Option[IvfPqMeta] =
      IndexFiles.readFileWithRecovery(spark, dir, "_meta.json")
        .map { bytes =>
          val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
          def int(name: String): Int = (j \ name) match {
            case org.json4s.JInt(v) => v.toInt
            case other => throw new IllegalArgumentException(
              s"malformed IvfPqResidualIndex meta at $dir/_meta.json: field $name = $other")
          }
          IvfPqMeta(int("nBits"), int("dim"), int("m"), int("pqBits"))
        }
  }

  /** A residual IVF-PQ (IVFADC) index — the build half of the build/query
    * split SCALING §8b prescribes (build once, query many times):
    *
    *  - `cent`:     K rows — (cid, ivec SUM-centroid, mvec mean-centroid,
    *                inrm) — the cell router + residual base
    *  - `codebook`: m·2^pqBits rows — (s, cid, cvec) per-subspace
    *                residual centroids
    *  - `codes`:    N·m rows — (__cid, cell, s, code), the compressed
    *                corpus itself
    *
    * Persisted, `dir/` is a [[VersionedStore]] with these three tables,
    * plus the geometry tag [[IvfPqMeta]] beside it. A build, an append and
    * a compaction are each ONE commit, so the three tables always come
    * from the same version: a crashed writer leaves only an orphan segment
    * or a `.tmp-` manifest, invisible to every read, reported by
    * [[IndexFsck.checkIvfPq]] and reclaimed by [[IndexRepair.repairIvfPqIndex]]
    * (a vacuum). All three are plain parquet-serializable columns (BIGINTs,
    * BIGINT arrays, one double), so a query against a re-read index is
    * bit-identical to one against the freshly built tables (`OperatorsSpec`
    * pins that equality end to end). */
  final case class IvfPqResidualIndex(cent: DataFrame, codebook: DataFrame,
                                      codes: DataFrame,
                                      meta: Option[IvfPqMeta] = None) {
    /** Fail loudly when the caller's (dim, m) disagree with the stored
      * build geometry — a mismatch silently mis-slices residual subspaces.
      * No-op for an untagged in-memory index. */
    def requireGeometry(dim: Int, m: Int): Unit = meta.foreach { stored =>
      require(stored.dim == dim && stored.m == m,
        s"IvfPqResidualIndex geometry mismatch: stored (dim=${stored.dim}, " +
          s"m=${stored.m}), passed (dim=$dim, m=$m) — encoding or querying " +
          "under a different subspace layout silently corrupts results; " +
          "use the stored values")
    }
  }

  object IvfPqResidualIndex {
    /** Read the latest committed version and its geometry tag. */
    def read(spark: SparkSession, dir: String): IvfPqResidualIndex = {
      val snap = VersionedStore.snapshot(spark, dir)
      val meta = IvfPqMeta.read(spark, dir).getOrElse(throw new IllegalArgumentException(
        s"IvfPqResidualIndex: no _meta.json at $dir — not an IVF-PQ index directory"))
      IvfPqResidualIndex(snap.table("cent"), snap.table("codebook"), snap.table("codes"),
        Some(meta))
    }
  }

  /** Compact a stored residual IVF-PQ index: drop tombstoned vector ids
    * (deleted from the corpus — their codes would keep surfacing as
    * neighbors forever) and merge the appended segments into one.
    * Centroids and codebooks stay FROZEN: they are statistics of the
    * training corpus, not of live membership, so deletes never retrain
    * (same drift/rebuild contract as append). Only the codes table
    * rewrites — index-sized (4 BIGINT-ish columns per (vector, subspace)),
    * never raw vectors — as ONE store rewrite, then the superseded
    * segments are reclaimed (a handle read before the commit must be
    * re-read). Dropping every vector is refused (the store refuses an
    * empty table). */
  def compactIvfPqResidualIndex(spark: SparkSession, dir: String,
                                dropIds: Option[DataFrame] = None,
                                idCol: String = "vec_id"): IvfPqResidualIndex = {
    IndexFiles.withWriteLease(spark, dir, "compactIvfPqResidualIndex") {
      VersionedStore.rewrite(spark, dir, note = "compactIvfPqResidualIndex") { cur =>
        Map("codes" -> dropIds.fold(cur("codes"))(ids => cur("codes").join(
          ids.select(col(idCol).as("__cid")), Seq("__cid"), "left_anti")))
      }
      VersionedStore.reclaim(spark, dir)
    }
    IvfPqResidualIndex.read(spark, dir)
  }

  // ---- shared IVFADC plumbing (build + query halves compose these with
  // identical expressions, so the split changes WHERE tables come from,
  // never what they contain)
  private def ivfInitial(df: DataFrame, idCol: String, vecCol: String,
                         nBits: Int, dim: Int) =
    withNorm(df, idCol, vecCol)
      .withColumn("__cell0", expr(HashSpec.lshBucketNative("__vec", nBits, dim)))

  // One scored (vector x centroid) subplan shared by both assignment
  // spellings — the K-row centroid table is broadcast, so this is a
  // map-side fan-out of K rows per vector, never a shuffle.
  private def ivfScored(df: DataFrame, cent: DataFrame): DataFrame =
    df.crossJoin(broadcast(cent))
      .withColumn("__score", expr(s"${HashSpec.dotNative("__vec", "ivec")} / inrm"))

  private def ivfAssign(df: DataFrame, cent: DataFrame, idCol: String): DataFrame =
    ivfScored(df, cent)
      .groupBy(col(idCol))
      .agg(max(struct(col("__score").as("s"), (lit(0) - col("cid")).as("nc"))).as("b"))
      .select(col(idCol), (lit(0) - col("b.nc")).as("cell"))

  // top-n cells per probe (windowed, probe side only — the corpus always
  // single-assigns; same discipline as ivfTopK.assignTopN)
  private def ivfAssignTopN(df: DataFrame, cent: DataFrame, idCol: String,
                            n: Int): DataFrame =
    if (n <= 1) ivfAssign(df, cent, idCol)
    else ivfScored(df, cent)
      .withColumn("__cr", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__score").desc, col("cid"))))
      .filter(col("__cr") <= n)
      .select(col(idCol), col("cid").as("cell"))

  private val residExpr =
    "ZIP_WITH(__v, mvec, (x, c) -> CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000)"

  // residuals: x − mean(cell), exact double subtraction of the micro-unit
  // integer mean (one row per (vector, assigned cell) — the probe side
  // carries nProbe rows, each with its own per-cell residual)
  private def ivfResid(df: DataFrame, cells: DataFrame, cent: DataFrame,
                       idCol: String, vecCol: String, as: String) = df
    .select(col(idCol), col(vecCol).as("__v"))
    .join(cells.withColumnRenamed(idCol, "___ri"), col(idCol) === col("___ri"))
    .join(broadcast(cent.select(col("cid").as("cell"), col("mvec"))), Seq("cell"))
    .withColumn("rvec", expr(residExpr))
    .select(col(idCol).as(as), col("cell"), col("rvec"))

  // the corpus-side residual in ONE scan of a withNorm'd `df`: the vector
  // rides through the argmax aggregate instead of joining the assignment
  // back to a second scan (ivfResid's shape, right for the probe side's
  // nProbe cells). It is functionally dependent on the id, so first() is
  // deterministic — the unique-id precondition of every build and append
  private def ivfFusedResid(df: DataFrame, cent: DataFrame, idCol: String): DataFrame =
    ivfScored(df, cent)
      .groupBy(col(idCol))
      .agg(max(struct(col("__score").as("s"), (lit(0) - col("cid")).as("nc"))).as("b"),
        first(col("__vec")).as("__v"))
      .select(col(idCol).as("__cid"), (lit(0) - col("b.nc")).as("cell"), col("__v"))
      .join(broadcast(cent.select(col("cid").as("cell"), col("mvec"))), Seq("cell"))
      .withColumn("rvec", expr(residExpr))
      .select(col("__cid"), col("cell"), col("rvec"))

  private def pqResidSubs(df: DataFrame, as: String, m: Int, subDim: Int) =
    df.select(col(as), col("cell"),
      posexplode(expr(
        s"TRANSFORM(SEQUENCE(0, ${m - 1}), s -> SLICE(rvec, s * $subDim + 1, $subDim))"))
        .as(Seq("s", "sub")))

  private val pqResidL2 = "AGGREGATE(ZIP_WITH(sub, cvec, (x, c) -> " +
    "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000) * " +
    "(CAST(x AS DOUBLE) - CAST(c AS DOUBLE) / 1000000)), " +
    "CAST(0 AS DOUBLE), (a, v) -> a + v)"

  // Assignment by SUM centroids (scale-invariant cosine, identical to
  // ivfPqTopK), mean centroids kept alongside for residuals
  private def ivfCentTable(c0: DataFrame): DataFrame = c0
    .select(col("__cell0").as("cid"), posexplode(col("__vec")).as(Seq("i", "x")))
    .groupBy("cid", "i")
    .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("mc"),
      count("*").as("cnt"))
    .withColumn("mm", expr("(mc - ((mc % cnt) + cnt) % cnt) DIV cnt"))
    .groupBy("cid")
    .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mc))), s -> s.mc)").as("ivec"),
      expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mm))), s -> s.mm)").as("mvec"))
    .withColumn("inrm", expr(s"SQRT(${HashSpec.dotNative("ivec", "ivec")})"))

  private def ivfResidCodebook(csubs: DataFrame, pqBits: Int, subDim: Int): DataFrame = csubs
    .withColumn("cell0", expr(s"lsh_bucket(sub, $pqBits, $subDim)"))
    .select(col("s"), col("cell0").as("cid"), posexplode(col("sub")).as(Seq("i", "x")))
    .groupBy("s", "cid", "i")
    .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("ms"),
      count("*").as("cnt"))
    .withColumn("mm", expr("(ms - ((ms % cnt) + cnt) % cnt) DIV cnt"))
    .groupBy("s", "cid")
    .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, mm))), t -> t.mm)").as("cvec"))

  private def ivfResidCodes(csubs: DataFrame, codebook: DataFrame): DataFrame =
    csubs.join(broadcast(codebook), Seq("s"))
      .withColumn("d2", expr(pqResidL2))
      .groupBy(col("__cid"), col("cell"), col("s"))
      .agg(min(struct(col("d2"), col("cid"))).as("b"))
      .select(col("__cid"), col("cell"), col("s"), col("b.cid").as("code"))

  /** The one IVFADC build: centroids, then the residual sub-vectors (the
    * fused assign+residual scan — the corpus is read twice in all), the
    * codebook over them, and the codes. `sink(stage, df)` decides how each
    * stage ("cent", "subs", "codebook", "codes") is held before the next
    * reads it — lazily, checkpointed, or written to storage; `release`
    * gets the residual stage once `codes`, its last consumer, has been
    * sunk. Engine-exact fixed-point arithmetic throughout (see
    * [[ivfPqResidualTopK]]'s determinism notes). */
  private def ivfPqBuild(corpus: DataFrame, idCol: String, vecCol: String,
                         nBits: Int, dim: Int, m: Int, pqBits: Int)
                        (sink: (String, DataFrame) => DataFrame,
                         release: DataFrame => Unit = _ => ()): IvfPqResidualIndex = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    val subDim = dim / m
    val c0 = ivfInitial(corpus, idCol, vecCol, nBits, dim)
    val cent = sink("cent", ivfCentTable(c0))
    val subs = sink("subs", pqResidSubs(ivfFusedResid(c0, cent, idCol), "__cid", m, subDim))
    val codebook = sink("codebook", ivfResidCodebook(subs, pqBits, subDim))
    val codes = sink("codes", ivfResidCodes(subs, codebook))
    release(subs)
    IvfPqResidualIndex(cent, codebook, codes)
  }

  /** Build the residual IVF-PQ index tables from a corpus, lazily: every
    * consumer of the returned tables re-derives them from the corpus, so
    * it suits one DAG that reads them once (or shares them through
    * exchange reuse, as the recall audit does). [[writeIvfPqResidualIndex]]
    * persists the same tables, each stage written once.
    *
    * PRECONDITION: corpus ids must be UNIQUE (same contract as the Dedup
    * index APIs): the residual stage groups by id and carries the vector
    * through with first(), which under duplicate ids indexes an ARBITRARY
    * one of the duplicate vectors. */
  def buildIvfPqResidualIndex(corpus: DataFrame, idCol: String, vecCol: String,
                              nBits: Int = 4, dim: Int = 64, m: Int = 8,
                              pqBits: Int = 4): IvfPqResidualIndex =
    ivfPqBuild(corpus, idCol, vecCol, nBits, dim, m, pqBits)((_, df) => df)

  /** Build AND persist the index — the build-once path a deployment runs.
    * Each stage is written ONCE as an uncommitted store segment and the
    * next stage reads it back, so the corpus is scanned exactly twice
    * (the centroid aggregation, then the fused assign+residual stage);
    * ONE commit then names the `cent`, `codebook` and `codes` segments —
    * version 1 of a fresh store, or a rebuild in place — and the reclaim
    * vacuum deletes the residual segment, which no manifest references,
    * with the superseded build. `_meta.json` is stamped before the commit.
    * A rebuild in place keeps the stored geometry (a different one is a
    * new index: build it into a fresh directory), so a crash between the
    * stamp and the commit leaves the previous build under its own tag.
    * Returns the index re-read from `dir` — queries against it are
    * bit-identical to the composed operator (`OperatorsSpec`).
    *
    * PRECONDITION: corpus ids must be UNIQUE (see
    * [[buildIvfPqResidualIndex]]). */
  def writeIvfPqResidualIndex(corpus: DataFrame, idCol: String, vecCol: String,
                              dir: String, nBits: Int = 4, dim: Int = 64,
                              m: Int = 8, pqBits: Int = 4): IvfPqResidualIndex = {
    val spark = corpus.sparkSession
    val meta = IvfPqMeta(nBits, dim, m, pqBits)
    IndexFiles.withWriteLease(spark, dir, "writeIvfPqResidualIndex") {
      val stored = IvfPqMeta.read(spark, dir)
      if (!stored.contains(meta)) {
        require(VersionedStore.versionNumbers(spark, dir).isEmpty,
          s"writeIvfPqResidualIndex: $dir holds an index of geometry " +
            s"${stored.getOrElse("<untagged>")}; a rebuild in place keeps it " +
            s"(passed $meta) — build a different geometry into a fresh directory")
        IvfPqMeta.write(spark, dir, meta)
      }
      VersionedStore.buildStaged(spark, dir, Set("cent", "codebook", "codes"),
          "writeIvfPqResidualIndex") { stage =>
        ivfPqBuild(corpus, idCol, vecCol, nBits, dim, m, pqBits)(stage)
      }
      VersionedStore.reclaim(spark, dir)
    }
    IvfPqResidualIndex.read(spark, dir)
  }

  /** Fold NEW vectors into a stored residual IVF-PQ index WITHOUT
    * retraining — the standard IVF "add" path an ANN deployment runs
    * between periodic rebuilds (the vector-index sibling of
    * [[graft.operators.Dedup.appendMinhashIndex]]): each new vector is
    * assigned to its nearest STORED centroid (broadcast K-row fan-out,
    * map-side), its residual is encoded against the STORED codebooks, and
    * the code rows land as ONE store append. Centroids and codebooks are
    * frozen, so (a) queries score every pre-existing vector exactly as
    * before the append, and (b) appended vectors score exactly as if they
    * had been present at build time under the same quantizers — which is
    * precisely what the driver oracle replays. Cost is batch-sized (no
    * corpus rescan; an id-column scan of `codes`); at 100 TB the add path
    * is what absorbs continuous ingest while rebuilds stay scheduled,
    * LSM-style. Drift contract: frozen quantizers fit a shifting
    * distribution progressively worse — audit recall ([[annRecall]])
    * and rebuild when it degrades, like every IVF deployment.
    *
    * Exactly once under retries: ids that `codes` already holds are
    * anti-joined out under the lease (a duplicate would double its summed
    * ADC distance), so a re-run — of a crashed append or of a COMMITTED
    * one (an at-least-once replay) — appends exactly the vectors not yet
    * committed, and a fully replayed batch commits nothing.
    * PRECONDITION: ids unique within the batch. */
  def appendIvfPqResidualIndex(batch: DataFrame, idCol: String, vecCol: String,
                               dir: String, dim: Int = 64,
                               m: Int = 8): IvfPqResidualIndex = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val spark = batch.sparkSession
    graft.functions.TajoFunctions.register(spark)
    // ONE lease from the presence check through the commit: two racing
    // appends of the same batch could otherwise both compute the novel
    // set against the pre-write snapshot and double-append
    IndexFiles.withWriteLease(spark, dir, "appendIvfPqResidualIndex") {
      val stored = IvfPqResidualIndex.read(spark, dir)
      // a geometry mismatch throws BEFORE any rows land
      stored.requireGeometry(dim, m)
      val novel = batch.join(
        stored.codes.select(col("__cid").as(idCol)), Seq(idCol), "left_anti")
      val resid = ivfFusedResid(withNorm(novel, idCol, vecCol), stored.cent, idCol)
      VersionedStore.append(spark, dir, Map("codes" -> ivfResidCodes(
        pqResidSubs(resid, "__cid", m, dim / m), stored.codebook)),
        note = "appendIvfPqResidualIndex")
    }
    IvfPqResidualIndex.read(spark, dir)
  }

  /** Query a (possibly re-read) residual IVF-PQ index — the half a
    * deployment runs per probe batch. `corpus` supplies raw vectors ONLY
    * for the `rerank` exact-cosine pass (IVFADC+R); with rerank = 0 it
    * never enters the plan. Semantics identical to [[ivfPqResidualTopK]]
    * (which is literally build + this). */
  def queryIvfPqResidual(index: IvfPqResidualIndex, corpus: DataFrame,
                         probes: DataFrame, idCol: String, vecCol: String,
                         k: Int = 10, dim: Int = 64,
                         m: Int = 8, nProbe: Int = 1, rerank: Int = 0): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(nProbe >= 1, s"need nProbe >= 1, got $nProbe")
    // A shortlist smaller than k would silently truncate the result set —
    // misconfiguration must fail loudly, not return k' < k neighbors.
    require(rerank == 0 || rerank >= k,
      s"rerank=$rerank must be 0 (off) or >= k=$k (shortlist size)")
    index.requireGeometry(dim, m)
    graft.functions.TajoFunctions.register(probes.sparkSession)
    val subDim = dim / m
    val cent = index.cent
    // probes route by argmax cosine against the stored centroids — the
    // build-time LSH seed (nBits) has no query-side role, so it is not a
    // parameter here: a mismatched value could only mask misconfiguration
    val probeCells = ivfAssignTopN(
      withNorm(probes, idCol, vecCol), cent, idCol, nProbe)
    val qres = ivfResid(probes, probeCells, cent, idCol, vecCol, "__qid")
    // ADC: per (query, subspace, centroid) squared distance, micro units
    val adc = pqResidSubs(qres, "__qid", m, subDim)
      .join(broadcast(index.codebook), Seq("s"))
      .withColumn("pd", expr(s"CAST(FLOOR(($pqResidL2) * 1000000) AS BIGINT)"))
      .select(col("__qid"), col("cell").as("__qcell"), col("s"), col("cid"), col("pd"))
    val kAdc = if (rerank > 0) rerank else k
    val codes = index.codes
    val adcTop = codes.join(broadcast(adc),
        codes("s") === adc("s") && codes("code") === adc("cid") &&
          codes("cell") === adc("__qcell"))
      .filter(col("__qid") =!= col("__cid"))
      .groupBy(col("__qid"), col("__cid"), col("cell"))
      .agg(sum(col("pd")).as("l2_micro"))
      .withColumn("rnk", row_number().over(Window.partitionBy("__qid")
        .orderBy(col("l2_micro").asc, col("__cid"))))
      .filter(col("rnk") <= kAdc)
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("cell"), col("l2_micro"), col("rnk").cast("bigint").as("rnk"))
    if (rerank <= 0) adcTop
    else {
      // IVFADC+R: exact-cosine re-rank of the rerank-sized shortlist —
      // an id-equi-join against the raw vectors (probes-bounded), then
      // one window; the ADC integer rnk decided the shortlist, the exact
      // double decides the final order.
      val cn = withNorm(corpus, idCol, vecCol)
        .select(col(idCol).as("___nid"), col("__vec").as("vc"), col("__nrm").as("nc"))
      val qn = withNorm(probes, idCol, vecCol)
        .select(col(idCol).as("___qid"), col("__vec").as("vq"), col("__nrm").as("nq"))
      adcTop
        .join(cn, col("neighbor_id") === col("___nid"))
        .join(broadcast(qn), col("query_id") === col("___qid"))
        .withColumn("cos_sim", expr(s"${HashSpec.dotNative("vq", "vc")} / (nq * nc)"))
        .withColumn("rrk", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rrk") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cell"),
          col("cos_sim"), col("rrk").cast("bigint").as("rnk"))
    }
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup of a corpus by its
    * embeddings. Vectors are k-means-style clustered (the same
    * deterministic LSH-seeded, fixed-point-centroid assignment the IVF
    * index uses), then WITHIN each cluster a vector is dropped when a
    * lower-id vector sits at cosine >= `threshold` — one representative
    * survives per semantic near-dup group, without any corpus-wide pair
    * enumeration. Returns one row per vector: (id, cell, kept 1/0,
    * dup_of = the smallest same-cell id that caused the drop, NULL when
    * kept).
    *
    * Scale: centroid table is K rows (broadcast); both assignment and the
    * in-cluster pair join shuffle on the cell id only. The pair join is
    * quadratic per cluster, never per corpus — the SemDeDup trade: raise
    * nBits so clusters stay bounded (K = 2^nBits grows free, the centroid
    * table is still tiny), exactly how the paper scales it. */
  /** Shared IVF-cell clustering + best-centroid assignment (fixed-point
    * BIGINT centroids, argmax cosine with a smallest-cell tie-break):
    * the common first phase of [[semDedup]] and [[semanticSort]]. Returns
    * one row per vector with its cell, its cosine to that centroid, and
    * the normalized vector/norm for downstream per-cell work. */
  private def cellAssign(vectors: DataFrame, idCol: String, vecCol: String,
                         nBits: Int, dim: Int): DataFrame = {
    graft.functions.TajoFunctions.register(vectors.sparkSession)
    val base = withNorm(vectors, idCol, vecCol)
      .withColumn("__cell0", expr(HashSpec.lshBucketNative("__vec", nBits, dim)))
    val cent = base
      .select(col("__cell0").as("cid"), posexplode(col("__vec")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("m"))
      .groupBy("cid")
      .agg(expr("TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, m))), s -> s.m)").as("cvec"))
      .withColumn("cnrm", expr(s"SQRT(${HashSpec.dotNative("cvec", "cvec")})"))
    base.crossJoin(broadcast(cent))
      .withColumn("__score", expr(s"${HashSpec.dotNative("__vec", "cvec")} / cnrm"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__score").as("s"), (lit(0) - col("cid")).as("nc"),
        col("__vec").as("v"), col("__nrm").as("n"))).as("b"))
      .select(col(idCol), (lit(0) - col("b.nc")).as("cell"),
        col("b.s").as("__score"), col("b.v").as("__vec"), col("b.n").as("__nrm"))
  }

  /** Semantic sort for in-context pretraining (Shi et al. 2023: training
    * sequences built from ADJACENT related documents beat random order):
    * cluster the corpus into IVF cells and emit the deterministic sort key
    * (cell, sim_ppm DESC, id) — materializing that order co-locates each
    * cell's documents, most-central first, so downstream packing fills
    * training sequences with semantically related neighbors. `sim_ppm` is
    * the floored-ppm cosine to the assigned centroid — exact integers, so
    * engines agree on every ordering decision (ties broken by id).
    *
    * Scale: same shape as [[semDedup]]'s assignment phase — K-row centroid
    * broadcast, per-vector argmax, no pair join at all; materializing the
    * order is one range exchange on the emitted key. */
  def semanticSort(vectors: DataFrame, idCol: String, vecCol: String,
                   nBits: Int = 4, dim: Int = 64): DataFrame =
    cellAssign(vectors, idCol, vecCol, nBits, dim)
      .select(col(idCol), col("cell").cast("bigint").as("cell"),
        expr("CAST(FLOOR(__score * 1000000) AS BIGINT)").as("sim_ppm"))

  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               threshold: Double = 0.35, nBits: Int = 4, dim: Int = 64): DataFrame = {
    val assigned = cellAssign(vectors, idCol, vecCol, nBits, dim).drop("__score")
    val x = assigned.select(col(idCol).as("__i"), col("cell"),
      col("__vec").as("vx"), col("__nrm").as("nx"))
    val y = assigned.select(col(idCol).as("__j"), col("cell"),
      col("__vec").as("vy"), col("__nrm").as("ny"))
    val drops = x.join(y, Seq("cell"))
      .filter(col("__i") < col("__j"))
      .filter(expr(s"${HashSpec.dotNative("vx", "vy")} / (nx * ny)") >= threshold)
      .groupBy(col("__j")).agg(min(col("__i")).as("dup_of"))
    assigned.join(drops, assigned(idCol) === col("__j"), "left")
      .select(col(idCol), col("cell"),
        col("dup_of").isNull.cast("int").as("kept"), col("dup_of"))
  }

  /** Hard-negative mining for contrastive training (the classic DPR/e5
    * recipe: the most useful negatives are the most SIMILAR examples with
    * a different label): for each anchor vector, the k nearest neighbors
    * by cosine whose label differs, searched within the anchor's IVF cell.
    *
    * Cell-restricted search is the point, not a shortcut — hard negatives
    * live near the anchor by definition, and the nBits knob bounds the
    * per-cell candidate set exactly like [[semDedup]] (quadratic per cell,
    * never per corpus; raise nBits to shrink cells). Returns
    * (anchor id, rank, negative id, sim_ppm) with a deterministic
    * (cosine DESC, id) rank; sim_ppm is the floored-ppm cosine so both
    * engines agree on every ranking decision. */
  def hardNegatives(vectors: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int = 4,
                    nBits: Int = 4, dim: Int = 64): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val assigned = cellAssign(vectors, idCol, vecCol, nBits, dim).drop("__score")
      .join(vectors.select(col(idCol), col(labelCol)), Seq(idCol))
    val a = assigned.select(col(idCol).as("anchor"), col("cell"),
      col(labelCol).as("__la"), col("__vec").as("va"), col("__nrm").as("na"))
    val n = assigned.select(col(idCol).as("negative"), col("cell"),
      col(labelCol).as("__ln"), col("__vec").as("vn"), col("__nrm").as("nn"))
    val w = Window.partitionBy(col("anchor"))
      .orderBy(col("sim_ppm").desc, col("negative"))
    a.join(n, Seq("cell"))
      .filter(col("__la") =!= col("__ln"))
      .withColumn("sim_ppm", expr(
        s"CAST(FLOOR(${HashSpec.dotNative("va", "vn")} / (na * nn) * 1000000) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor"), col("rank").cast("bigint").as("rank"),
        col("negative"), col("sim_ppm"))
  }

  /** Element-wise mean pooling of vectors per group — the chunk-embeddings
    * → document-embedding step of an embedding pipeline. Fixed-point
    * BIGINT element sums keep the aggregation engine-exact AND mergeable
    * (partial+final, any scale); the mean reconstructs as exact
    * BIGINT→DOUBLE conversion divided by the count (each step correctly
    * rounded, so the DuckDB oracle reproduces it bit-for-bit). Quantization
    * is 1e-6 per element — the same resolution the IVF centroids use. */
  def meanPool(vectors: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vectors.select(col(groupCol), posexplode(col(vecCol)).as(Seq("i", "x")))
      .groupBy(col(groupCol), col("i"))
      .agg(sum(expr("CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")).as("m"),
        count("*").as("c"))
      .groupBy(col(groupCol))
      .agg(expr(
        "TRANSFORM(SORT_ARRAY(COLLECT_LIST(STRUCT(i, m, c))), s -> CAST(s.m AS DOUBLE) / s.c / 1000000)")
        .as("pooled"),
        max("c").as("n_vecs"))

  /** Int8-quantized ANN (the memory-bound scale path: 4× smaller vectors,
    * integer dot products).
    *
    * Per-vector symmetric quantization: q_i = FLOOR(x_i * 127 / max|x|) —
    * every step is a correctly-rounded IEEE double op on exact f32 inputs,
    * so the DuckDB oracle reproduces the codes bit-for-bit (no decimal
    * rounding, no sum-order dependence; the max|x| guard keeps a zero
    * vector finite). Candidates rank by dot/sqrt(|c|²) with the norm taken
    * over the INTEGER codes, so ranking only touches exact integers plus
    * one deterministic double divide/sqrt per pair; ties break on id.
    *
    * Returned `int_dot` is the exact integer dot product of the codes.
    * At 100 TB: quantization is a per-row projection at scan speed; the
    * search itself shares [[bruteForceTopK]]'s broadcast-probe shape (use
    * the [[ivfTopK]] cell join for corpus-vs-corpus — quantization
    * composes with it unchanged). */
  def int8TopK(corpus: DataFrame, probes: DataFrame, idCol: String,
               vecCol: String, k: Int = 10): DataFrame = {
    def quant(df: DataFrame, p: String) =
      df.select(col(idCol).as(s"${p}_id"), col(vecCol).as("__v"))
        .withColumn("__ma", expr(
          "GREATEST(ARRAY_MAX(TRANSFORM(__v, x -> ABS(CAST(x AS DOUBLE)))), CAST(1 AS DOUBLE) / 1000000000)"))
        .withColumn(s"${p}_q",
          expr("TRANSFORM(__v, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127 / __ma) AS BIGINT))"))
        .withColumn(s"${p}_n2",
          expr(s"AGGREGATE(${p}_q, CAST(0 AS BIGINT), (s, x) -> s + x * x)"))
        .drop("__v", "__ma")
    val c = quant(corpus, "c")
    val q = quant(probes, "q")
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("int_dot",
        expr("AGGREGATE(ZIP_WITH(q_q, c_q, (a, b) -> a * b), CAST(0 AS BIGINT), (s, x) -> s + x)"))
      .withColumn("rnk", row_number().over(Window.partitionBy("q_id")
        .orderBy((col("int_dot").cast("double") / sqrt(col("c_n2").cast("double"))).desc,
          col("c_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id").as("query_id"), col("c_id").as("neighbor_id"),
        col("int_dot"), col("rnk").cast("bigint").as("rnk"))
  }

  /** LSH-bucketed ANN: probes only scan their own sign-bit bucket. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
              vecCol: String, k: Int = 10, nBits: Int = 4, dim: Int = 64): DataFrame = {
    def bucketed(df: DataFrame) = withNorm(df, idCol, vecCol)
      .withColumn("__bucket", expr(HashSpec.lshBucketNative("__vec", nBits, dim)))
    val c = bucketed(corpus)
      .select(col(idCol).as("neighbor_id"), col("__vec").as("vc"), col("__nrm").as("nc"), col("__bucket"))
    val q = bucketed(probes)
      .select(col(idCol).as("query_id"), col("__vec").as("vq"), col("__nrm").as("nq"), col("__bucket"))
    c.join(broadcast(q), Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr(s"${HashSpec.dotNative("vq", "vc")} / (nq * nc)"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "cos_sim", "rnk", "__bucket")
  }
}
