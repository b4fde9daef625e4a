package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * All variants are shuffle-on-derived-key algorithms: the only wide
  * operations are groupBy/join on hash or band keys, so they scale linearly
  * with executors and never materialize O(n^2) candidate sets. At 100 TB:
  * exact dedup is one shuffle on a 128-bit digest; MinHash-LSH shuffles
  * (bands x rows) band keys per doc and joins only within buckets.
  */
object Dedup {

  /** Exact duplicate groups by content digest: one hash-aggregate shuffle.
    * Returns (hash, n_copies, keeper = min id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(count("*").as("n_copies"), min(col(idCol)).as("keeper"))

  /** Exact dedup after lowercase/punctuation/whitespace normalization
    * (native one-pass norm_text expression — bit-identical to the
    * TRIM(REGEXP_REPLACE(...)) spec, see graft.functions.NormText). */
  def normalized(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    docs.withColumn("__norm", expr(s"norm_text($textCol)"))
      .groupBy(md5(col("__norm")).as("h"))
      .agg(count("*").as("n_copies"), min(col(idCol)).as("keeper"))
  }

  /** Per-doc MinHash signature (array of k BIGINTs) from word `n`-shingles. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 16, shingleN: Int = 3): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    docs.select(col(idCol), expr(HashSpec.minhashNative(textCol, k, shingleN)).as("sig"))
  }

  /** LSH band planner: choose (bands, rowsPerBand) for a k-hash signature
    * so the S-curve threshold (1/b)^(1/r) — the Jaccard similarity at
    * which a pair's candidate probability crosses ~1/2 (Leskovec/Rajaraman
    * /Ullman, Mining of Massive Datasets ch. 3) — lands closest to the
    * caller's target. Scans the divisors of k (b*r must tile the
    * signature), ties broken toward more bands (higher recall). Pure
    * driver-side arithmetic; feed the result to [[minhashBands]]. */
  def planBands(k: Int, targetJaccard: Double): (Int, Int) = {
    require(k >= 2 && targetJaccard > 0 && targetJaccard < 1,
      s"need k >= 2 and target in (0,1), got k=$k t=$targetJaccard")
    val options = for (b <- 1 to k if k % b == 0) yield (b, k / b)
    options.minBy { case (b, r) =>
      (math.abs(math.pow(1.0 / b, 1.0 / r) - targetJaccard), -b)
    }
  }

  /** LSH band rows: (id, band, band_key); join on (band, band_key) to get
    * candidate pairs. bands*rowsPerBand must equal the signature length.
    *
    * NOTE on `band_key`'s type: BIGINT when rowsPerBand == 2 (the packed
    * spelling below), STRING otherwise. Band tables produced under
    * different rowsPerBand configs (or against a CONCAT_WS string-key
    * spelling) must not be unioned/compared directly — cast `band_key` to
    * STRING at any boundary where configs could mix. The key carries no
    * meaning beyond equality within one config. */
  def minhashBands(sigs: DataFrame, idCol: String,
                   bands: Int = 8, rowsPerBand: Int = 2): DataFrame =
    sigs.select(col(idCol),
        explode(expr(minhashBandStructs(bands, rowsPerBand))).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_key").as("band_key"))

  /** SQL for the banded keys over a `sig` column — the SHARED builder
    * behind [[minhashBands]] and the streaming
    * [[graft.streaming.StreamingDedup.minhashNearDupPairs]], so the two
    * spellings cannot drift (same discipline as [[simhash60PackedKeys]]).
    *
    * One Generate (explode over a TRANSFORM) instead of a broadcast
    * nested-loop crossJoin against range(bands): the band expansion stays
    * inside one codegen stage. For the default rowsPerBand = 2 the band
    * key packs both sig rows into ONE BIGINT — sig values live in
    * [0, P) with P = 1e9+7, so a*P + b < P^2 ~ 1.0e18 < 2^63 is injective
    * and ANSI-safe — because downstream uses the key ONLY for equality
    * (bucket groupBy / band join), and an 8-byte key shuffles and
    * compares far cheaper than the ~20-char string spelling (measured:
    * the band stage dropped from +3.1s to +0.2s over the sig scan at
    * sf1, and the full candidate-pair pipeline from 6.4s to ~2.4s).
    * Other rowsPerBand values keep the string key (P^3 overflows). */
  private[graft] def minhashBandStructs(bands: Int, rowsPerBand: Int): String = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"need bands >= 1 and rowsPerBand >= 1, got $bands/$rowsPerBand")
    val key =
      if (rowsPerBand == 2)
        "ELEMENT_AT(sig, CAST(2 * i + 1 AS INT)) * CAST(1000000007 AS BIGINT)" +
          " + ELEMENT_AT(sig, CAST(2 * i + 2 AS INT))"
      else (0 until rowsPerBand)
        .map(r => s"CAST(ELEMENT_AT(sig, CAST($rowsPerBand * i + ${r + 1} AS INT)) AS STRING)")
        .mkString("CONCAT_WS('-', ", ", ", ")")
    s"TRANSFORM(SEQUENCE(0, ${bands - 1}), i -> STRUCT(CAST(i AS BIGINT) AS band, ($key) AS band_key))"
  }

  /** Candidate near-duplicate pairs from banded signatures (id1 < id2).
    * Group-collect-explode: one shuffle on the band key and one evaluation
    * of the upstream signature pipeline (a self-join would recompute it on
    * both branches). */
  def minhashCandidates(bandRows: DataFrame, idCol: String): DataFrame =
    bandRows.groupBy("band", "band_key")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """FLATTEN(TRANSFORM(SEQUENCE(0, SIZE(ids) - 2),
          |  i -> TRANSFORM(SEQUENCE(i + 1, SIZE(ids) - 1),
          |    j -> STRUCT(ids[i] AS d1, ids[j] AS d2))))""".stripMargin)).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .distinct()

  /** Build parameters of a persisted [[MinhashIndex]], stamped into
    * `dir/_meta.json` by [[writeMinhashIndex]] and validated on every read
    * and query. The packed band key carries no config tag (see
    * [[minhashBands]]'s type note), so querying an index with different
    * k/shingleN/bands/rowsPerBand than it was built with silently yields
    * empty joins — the exact quiet-failure mode this tag exists to turn
    * into a loud error. */
  final case class MinhashMeta(k: Int, shingleN: Int, bands: Int, rowsPerBand: Int)

  object MinhashMeta {
    def write(spark: org.apache.spark.sql.SparkSession, dir: String,
              m: MinhashMeta): Unit =
      IndexFiles.writeFileSwap(spark, dir, "_meta.json",
        s"""{"k":${m.k},"shingleN":${m.shingleN},"bands":${m.bands},"rowsPerBand":${m.rowsPerBand}}"""
          .getBytes("UTF-8"))

    /** None for a pre-meta (legacy) index directory. */
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): Option[MinhashMeta] =
      IndexFiles.readFileWithRecovery(spark, dir, "_meta.json").map { bytes =>
        val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
        def int(name: String): Int = (j \ name) match {
          case org.json4s.JInt(v) => v.toInt
          case other => throw new IllegalArgumentException(
            s"malformed MinhashIndex meta at $dir/_meta.json: field $name = $other")
        }
        MinhashMeta(int("k"), int("shingleN"), int("bands"), int("rowsPerBand"))
      }
  }

  /** A persisted MinHash near-dup index: the banded LSH table plus the raw
    * signatures, both parquet — everything an incremental dedup deployment
    * needs to check NEW batches against a corpus WITHOUT ever rescanning
    * it (the near-dup counterpart of [[graft.operators.Similarity]]'s
    * IVFADC build/query split). Index size is K+bands BIGINTs per corpus
    * document (~200 bytes at the defaults), independent of text length —
    * a 100 TB corpus indexes to ~100s of GB. `meta` carries the stored
    * build params when the index was read from a tagged directory; query
    * operators validate against it and fail loudly on mismatch. */
  final case class MinhashIndex(bands: DataFrame, sigs: DataFrame,
                                meta: Option[MinhashMeta] = None) {
    /** Fail loudly when caller params disagree with the stored build params
      * (a mismatch would otherwise silently yield empty joins). No-op for
      * an untagged in-memory/legacy index. */
    def requireParams(k: Int, shingleN: Int, bands: Int, rowsPerBand: Int): Unit =
      meta.foreach { m =>
        val passed = MinhashMeta(k, shingleN, bands, rowsPerBand)
        require(m == passed,
          s"MinhashIndex build-param mismatch: stored $m, passed $passed — " +
            "querying with different params silently yields empty joins; " +
            "use the stored values")
      }
  }

  object MinhashIndex {
    /** Read a persisted index. Also performs read-side crash recovery for
      * an interrupted [[compactMinhashIndex]]: if a table's live directory
      * is missing but its `_*_old` sibling exists (the swap crashed between
      * its two renames), the old (pre-compaction, correct but uncompacted)
      * table is renamed back into place before reading. */
    def read(spark: org.apache.spark.sql.SparkSession, dir: String): MinhashIndex = {
      // a rebuild-in-place that crashed between the sigs and bands
      // overwrites pairs new signatures with the previous build's band
      // table — candidates silently go missing; only the surviving
      // intent marker distinguishes that mixed-build state
      require(!IndexFiles.markerExists(spark, dir, "_rebuild_intent"),
        s"MinhashIndex.read: torn writeMinhashIndex rebuild at $dir (its " +
          "_rebuild_intent marker survived a crash) — sigs and bands may be " +
          "from different builds; re-run writeMinhashIndex, or build into " +
          "a fresh directory")
      Seq("sigs", "bands").foreach(
        IndexFiles.recoverInterruptedSwap(spark, dir, _, "MinhashIndex.read"))
      MinhashIndex(
        IndexFiles.readParquet(spark, s"$dir/bands"),
        IndexFiles.readParquet(spark, s"$dir/sigs"),
        MinhashMeta.read(spark, dir))
    }
  }

  /** Build AND persist the MinHash index with the corpus scanned exactly
    * once: signatures write first, the band table derives from the STORED
    * signatures (not from a second signature evaluation). Stamps the build
    * params into `dir/_meta.json` so later reads/queries validate against
    * them. Returns the index re-read from `dir`. */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        dir: String, k: Int = 16, shingleN: Int = 3,
                        bands: Int = 8, rowsPerBand: Int = 2): MinhashIndex = {
    require(bands * rowsPerBand == k,
      s"bands * rowsPerBand must equal k, got $bands * $rowsPerBand != $k")
    val spark = corpus.sparkSession
    IndexFiles.withWriteLease(spark, dir, "writeMinhashIndex") {
      // rebuild bracket: a crash between the two overwrites pairs new
      // sigs with the old band table, and only the marker can detect the
      // mixed build
      IndexFiles.createMarker(spark, dir, "_rebuild_intent")
      minhashSignature(corpus, idCol, textCol, k, shingleN)
        .write.mode("overwrite").parquet(s"$dir/sigs")
      val sigs = IndexFiles.readParquet(spark, s"$dir/sigs")
      minhashBands(sigs, idCol, bands, rowsPerBand)
        .write.mode("overwrite").parquet(s"$dir/bands")
      MinhashMeta.write(spark, dir, MinhashMeta(k, shingleN, bands, rowsPerBand))
      IndexFiles.deleteMarker(spark, dir, "_rebuild_intent")
    }
    MinhashIndex.read(spark, dir)
  }

  /** Check a new batch against a stored [[MinhashIndex]] — incremental
    * NEAR-dup detection (the fuzzy sibling of [[incrementalExact]]'s
    * digest anti-join). Returns (new_id, corpus_id, sig_matches,
    * est_jaccard) for every batch/corpus pair agreeing on >= `minMatches`
    * of the k signature positions (E[agreement fraction] = Jaccard — the
    * MinHash estimator, so minMatches/k is the similarity threshold and
    * est_jaccard = sig_matches/k is exact dyadic arithmetic on both
    * engines).
    *
    * Scale shape: candidates come from the band equi-join — batch-band
    * rows against the stored band table, never corpus text — and only
    * candidates pay the signature-agreement verify against the stored
    * sigs table. The corpus is never rescanned; its text is not even an
    * input. The BATCH signature subplan is referenced twice (band
    * expansion + the verify join) and so evaluates twice — the same trade
    * SCALING §8b adjudicated for the ANN build: at incremental-batch
    * scale two evaluations of a one-pass expression beat a checkpoint's
    * serialization barrier, and a deployment whose batches are huge
    * should persist the batch signatures and read them back (exactly what
    * [[writeMinhashIndex]] does for the corpus side).
    * `k`, `shingleN`, `bands`, `rowsPerBand` must match the values the
    * index was built with — a persisted index carries them in
    * `_meta.json` and a mismatch throws here (requireParams); an untagged
    * in-memory index cannot be checked, and a mismatch silently yields
    * empty joins (the packed band key carries no config tag, see
    * [[minhashBands]]'s type note). */
  def incrementalNearDups(index: MinhashIndex, batch: DataFrame, idCol: String,
                          textCol: String, k: Int = 16, shingleN: Int = 3,
                          bands: Int = 8, rowsPerBand: Int = 2,
                          minMatches: Int = 8): DataFrame = {
    require(bands * rowsPerBand == k,
      s"bands * rowsPerBand must equal k, got $bands * $rowsPerBand != $k")
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    index.requireParams(k, shingleN, bands, rowsPerBand)
    val bsigs = minhashSignature(batch, idCol, textCol, k, shingleN)
    val bband = minhashBands(bsigs, idCol, bands, rowsPerBand)
    bandJoinVerify(index, bsigs, bband, idCol, k, minMatches)
  }

  // candidates from the band equi-join + the signature-agreement verify —
  // the shared tail of incrementalNearDups and its Bloom-prefiltered
  // variant (they differ only in which batch band rows reach the join).
  // private[graft]: the streaming foreachBatch bodies call it directly
  // with a ONCE-materialized signature table, so one trigger evaluates
  // the shingle+hash pipeline a single time across check/fold/append.
  private[graft] def bandJoinVerify(index: MinhashIndex, bsigs: DataFrame,
                                    bband: DataFrame, idCol: String, k: Int,
                                    minMatches: Int): DataFrame = {
    val cands = bband.select(col(idCol).as("new_id"), col("band"), col("band_key"))
      .join(index.bands.select(col(idCol).as("corpus_id"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select("new_id", "corpus_id").distinct()
    // the shared agreement verify also performs the candidate-sized dedup:
    // duplicate index rows (a retried appendMinhashIndex after partial
    // failure) must not duplicate output pairs — this is what makes the
    // append idempotent at read time; duplicates carry identical sig
    // values, so any survivor is the right row
    sigAgreement(cands, bsigs, index.sigs, idCol,
        "new_id", "corpus_id", minMatches)
      .withColumn("est_jaccard", col("sig_matches") / lit(k.toDouble))
      .select("new_id", "corpus_id", "sig_matches", "est_jaccard")
  }

  /** One narrow pass over a stored index's band table folds its
    * (band, band_key) pairs into a Bloom sketch. Deployments should
    * prefer [[writeBandSketch]], which persists the sketch next to the
    * index and lets [[appendMinhashIndex]] keep it covering appended rows
    * (a sketch that misses index rows causes false-negative pruning —
    * see the stale-sketch note on [[incrementalNearDupsBloom]]). Only the
    * numBits/8-byte sketch ever reaches the driver.
    *
    * SIZING CONTRACT: `expectedItems` must cover the index's band-row
    * count (docs x bands — e.g. 1e9 docs x 8 bands needs expectedItems =
    * 8e9, a ~9.6 GB sketch at fpp 0.01: bits = -n*ln(fpp)/ln(2)^2 ~ 9.6
    * bits/item). The default 1<<20 suits the shipped demo scale ONLY.
    * Sizing beyond Spark's runtime bloom-filter caps
    * (spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits,
    * defaults 4e6/6.7e7) throws here rather than letting
    * BloomFilterAggregate SILENTLY clamp to an 8 MB saturated sketch —
    * raise those confs to match the target size at deployment scale. An
    * undersized sketch stays EXACT — false positives only degrade the
    * prefilter toward the plain band join — but it saturates silently and
    * stops pruning, which defeats the entire point of the Bloom spelling;
    * this builder therefore measures the sketch's observed bit density
    * and warns on stderr past [[saturationDensity]] (optimal-k filters
    * sit at ~0.5 when exactly at capacity). [[sketchBitDensity]] exposes
    * the same measurement for callers that alert instead of logging. */
  def buildBandSketch(index: MinhashIndex,
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.01): Array[Byte] = {
    graft.functions.TajoFunctions.register(index.bands.sparkSession)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    requireSketchWithinCaps(index.bands.sparkSession, expectedItems, numBits)
    val sketch = index.bands
      .select(call_function("bloom_agg",
        xxhash64(col("band"), col("band_key")),
        lit(expectedItems), lit(numBits)).as("b"))
      .head.getAs[Array[Byte]](0)
    val density = sketchBitDensity(sketch)
    if (density > saturationDensity)
      OpLog.warn("sketch.saturated", f"buildBandSketch: sketch bit density $density%.3f " +
        f"exceeds the at-capacity ~0.5 of an optimally-sized filter — " +
        f"expectedItems=$expectedItems is undersized for this index; the " +
        f"prefilter stays exact but prunes little. Resize to >= the index's " +
        f"band-row count.")
    sketch
  }

  /** Build the band sketch from the index stored at `dir` AND persist it
    * alongside (`_sketch` + `_sketch_meta.json` carrying the construction
    * params) — the deployment spelling: build once when the index is
    * (re)built, and from then on [[appendMinhashIndex]] MAINTAINS the
    * stored sketch by OR-merging each appended batch's band keys into it
    * (Bloom sketches of equal geometry merge exactly; the fold is
    * batch-sized). That maintenance is what keeps
    * [[incrementalNearDupsBloom]] EXACT across appends: a sketch that
    * predates an append is STALE — batch rows matching only appended
    * documents would be pruned map-side (false NEGATIVES, the one way the
    * prefilter can lose rows) — so hand queries [[readBandSketch]], never
    * a cached byte array from before an append. After a compaction with
    * tombstones the sketch is merely over-approximate (dropped ids' keys
    * still set — false positives only, exactness keeps): rebuild with
    * this method to re-tighten pruning. */
  def writeBandSketch(spark: org.apache.spark.sql.SparkSession, dir: String,
                      expectedItems: Long = 1L << 20,
                      fpp: Double = 0.01): Array[Byte] = {
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val sketch = buildBandSketch(MinhashIndex.read(spark, dir), expectedItems, fpp)
    IndexFiles.writeFileSwap(spark, dir, "_sketch_meta.json",
      s"""{"expectedItems":$expectedItems,"numBits":$numBits}""".getBytes("UTF-8"))
    IndexFiles.writeFileSwap(spark, dir, "_sketch", sketch)
    sketch
  }

  /** The persisted band sketch at `dir`, or None if none was written.
    * Recovers from a write interrupted between its renames (the `_old`
    * sidecar protocol — see [[IndexFiles.writeFileSwap]]). */
  def readBandSketch(spark: org.apache.spark.sql.SparkSession,
                     dir: String): Option[Array[Byte]] =
    IndexFiles.readFileWithRecovery(spark, dir, "_sketch")

  // OR-merge a batch's band keys into the persisted sketch, preserving its
  // stored geometry (same expectedItems/numBits => same hash count, so the
  // merge is exact). Called by appendMinhashIndex; no-op when no sketch is
  // persisted. A crash between the bands append and this rewrite leaves a
  // stale sketch — same miss-only recovery as a partial append: re-run the
  // append (idempotent at read) or rebuild via writeBandSketch.
  private def maintainBandSketch(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, batchBands: DataFrame): Unit = {
    val metaBytes = IndexFiles
      .readFileWithRecovery(spark, dir, "_sketch_meta.json")
      .getOrElse(return) // no persisted sketch: maintenance is a no-op
    val j = org.json4s.jackson.JsonMethods.parse(new String(metaBytes, "UTF-8"))
    def long(name: String): Long = (j \ name) match {
      case org.json4s.JInt(v) => v.toLong
      case other => throw new IllegalArgumentException(
        s"malformed sketch meta at $dir/_sketch_meta.json: field $name = $other")
    }
    val batchSketch = batchBands
      .select(call_function("bloom_agg",
        xxhash64(col("band"), col("band_key")),
        lit(long("expectedItems")), lit(long("numBits"))).as("b"))
      .head.getAs[Array[Byte]](0)
    if (batchSketch == null) return // empty batch: nothing to fold
    val stored = readBandSketch(spark, dir).getOrElse(return)
    val merged = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(stored))
    merged.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(batchSketch)))
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    IndexFiles.writeFileSwap(spark, dir, "_sketch", out.toByteArray)
  }

  // Spark's BloomFilterAggregate silently CLAMPS its size arguments to
  // spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits
  // (defaults 4e6 items / 6.7e7 bits = 8 MB): a caller sizing for 1e9+
  // band rows would otherwise get a silently saturated 8 MB sketch and a
  // meta file recording a geometry the stored bytes do not have. Fail
  // loudly and name the confs to raise — the same misconfiguration-must-
  // fail-loudly discipline as the banding/meta validations.
  private def requireSketchWithinCaps(spark: org.apache.spark.sql.SparkSession,
                                      expectedItems: Long, numBits: Long): Unit = {
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"sketch sizing (expectedItems=$expectedItems, numBits=$numBits) exceeds " +
        s"Spark's runtime bloom-filter caps (maxNumItems=$maxItems, " +
        s"maxNumBits=$maxBits) — BloomFilterAggregate would SILENTLY clamp and " +
        "saturate; raise spark.sql.optimizer.runtime.bloomFilter.maxNumItems/" +
        "maxNumBits to match the target size")
  }

  /** Observed fraction of set bits in a serialized Bloom sketch. An
    * optimally-parameterized filter loaded to exactly `expectedItems` sits
    * at ~0.5; materially above that the filter is past capacity and its
    * false-positive rate (= pruning loss, never correctness loss) grows
    * quickly. The few header bytes of the serialized form are counted too
    * — noise at any real sketch size. */
  def sketchBitDensity(sketch: Array[Byte]): Double = {
    var set = 0L
    var i = 0
    while (i < sketch.length) { set += Integer.bitCount(sketch(i) & 0xff); i += 1 }
    set.toDouble / (sketch.length.toLong * 8)
  }

  /** Bit-density threshold past which [[buildBandSketch]] warns: at-capacity
    * optimal filters sit at 0.5; 0.55 tolerates hash jitter without
    * flagging a correctly sized sketch. */
  val saturationDensity: Double = 0.55

  /** Bloom-prefiltered [[incrementalNearDups]] — the 100 TB ingest shape,
    * with identical (exact) results. The plain variant shuffles EVERY
    * batch band row into the join against the stored band table, but the
    * common ingest case is a mostly-NOVEL batch whose rows can never
    * match: here each batch band row first probes a prebuilt sketch of
    * the index's band keys map-side (`BloomFilterMightContain` over a
    * foldable literal — codegen'd, no UDF, zero reads of the index for
    * the definite-novel rows), and only the might-contain rows reach the
    * band join. False positives merely ADD candidate rows that the
    * signature-agreement verify rejects; false negatives are impossible
    * FOR A SKETCH THAT COVERS THE INDEX'S BAND ROWS — so the output is
    * bit-identical to [[incrementalNearDups]] at any sketch SIZE,
    * including a saturated one (`OperatorsSpec` pins both). A STALE
    * sketch (built before an [[appendMinhashIndex]], not covering the
    * appended rows) is the one way to lose pairs: rows matching only
    * appended docs prune map-side. Persist the sketch with
    * [[writeBandSketch]] and reads stay exact — append OR-merges each
    * batch's keys into the stored sketch (spec-pinned: the stale sketch
    * measurably misses, the maintained one matches the plain spelling).
    * Same build-param contract as the plain variant.
    *
    * How the sketch ships: below `broadcastThresholdBytes` (default 4 MiB
    * ~ 3.5M band rows at fpp 0.01) it travels as a foldable plan literal —
    * Spark's own codegen'd `BloomFilterMightContain`, zero extra
    * machinery. At or above the threshold — a correctly sized sketch for a
    * 100 TB index (~1e10 band rows, fpp 0.01) is ~12 GB of bits — a
    * GB-scale literal would bloat every plan copy the optimizer makes and
    * every serialized task, so the sketch moves into a TORRENT BROADCAST
    * and the probe becomes [[graft.functions.BloomMightContainBc]]: the
    * plan holds only the broadcast handle, executors fetch the bytes once
    * each, and the probe stays codegen'd. Both spellings are bit-identical
    * (spec-pinned by forcing the threshold to 0). */
  def incrementalNearDupsBloom(index: MinhashIndex, batch: DataFrame,
                               idCol: String, textCol: String,
                               sketch: Array[Byte],
                               k: Int = 16, shingleN: Int = 3,
                               bands: Int = 8, rowsPerBand: Int = 2,
                               minMatches: Int = 8,
                               broadcastThresholdBytes: Int = 4 << 20): DataFrame = {
    require(bands * rowsPerBand == k,
      s"bands * rowsPerBand must equal k, got $bands * $rowsPerBand != $k")
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    index.requireParams(k, shingleN, bands, rowsPerBand)
    graft.functions.TajoFunctions.register(batch.sparkSession)
    val bsigs = minhashSignature(batch, idCol, textCol, k, shingleN)
    val pred = sketchProbe(batch.sparkSession, sketch,
      xxhash64(col("band"), col("band_key")), broadcastThresholdBytes)
    val bband = minhashBands(bsigs, idCol, bands, rowsPerBand).filter(pred)
    bandJoinVerify(index, bsigs, bband, idCol, k, minMatches)
  }

  /** The sketch-probe predicate shared by every Bloom-prefilter spelling:
    * below `thresholdBytes` the sketch rides as a foldable plan literal
    * (Spark's codegen'd BloomFilterMightContain — zero machinery, right
    * for the common small sketch); at or above it the bytes move into a
    * torrent broadcast probed by [[graft.functions.BloomMightContainBc]],
    * so a GB-scale 100 TB sketch never enters the plan tree or the task
    * binaries (SCALING §10a). Bit-identical either way. */
  private def sketchProbe(spark: org.apache.spark.sql.SparkSession,
                          sketch: Array[Byte], hash: Column,
                          thresholdBytes: Int): Column =
    if (sketch.length < thresholdBytes)
      call_function("bloom_might_contain", lit(sketch), hash)
    else {
      val bc = spark.sparkContext.broadcast(sketch)
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.BloomMightContainBc(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(hash), bc))
    }

  /** Near-dup pairs BETWEEN two stored [[MinhashIndex]]es — corpus-vs-
    * corpus dedup with NEITHER side's text rescanned or re-signed: the
    * first-class spelling of the escape hatch [[incrementalNearDups]]'s
    * scaladoc prescribes for huge batches (persist the batch side too,
    * then join index to index). Candidates come from the equi-join of the
    * two stored band tables; the agreement verify joins the two stored
    * sigs tables — all index-sized (~200 B/doc), so deduping one 100 TB
    * corpus against another costs two index scans and a band-key shuffle,
    * never a text read. Returns (a_id, b_id, sig_matches, est_jaccard)
    * with the same minMatches/estimator semantics as the incremental
    * query. Both indexes must share build params — validated against
    * their `_meta.json` tags when present (mismatched banding would
    * silently yield empty joins, same trap as everywhere else). */
  def crossIndexNearDups(a: MinhashIndex, b: MinhashIndex, idCol: String,
                         k: Int = 16, minMatches: Int = 8): DataFrame = {
    (a.meta, b.meta) match {
      case (Some(ma), Some(mb)) => require(ma == mb,
        s"crossIndexNearDups: indexes built under different params — $ma vs $mb")
      case _ => ()
    }
    (a.meta orElse b.meta).foreach(m => require(m.k == k,
      s"crossIndexNearDups: k=$k differs from the stored k=${m.k}"))
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    bandJoinVerify(a, b.sigs, b.bands, idCol, k, minMatches)
      .select(col("corpus_id").as("a_id"), col("new_id").as("b_id"),
        col("sig_matches"), col("est_jaccard"))
  }

  /** Fold a new batch INTO a stored [[MinhashIndex]] — the maintenance
    * half of the incremental loop: check the batch
    * ([[incrementalNearDups]]), ingest the survivors, then append them so
    * the NEXT batch dedupes against them too. Parquet append of
    * batch-sized sig/band tables — no read-modify-write, no corpus
    * rescan. The batch signatures are materialized ONCE
    * (localCheckpoint) and both appended tables derive from that one
    * evaluation — a non-deterministic batch plan (sample(), generated
    * ids) can therefore never persist a bands table inconsistent with
    * the sigs table. Callers keep ids unique across batches (same
    * contract as [[incrementalExact]]'s seen table).
    *
    * Failure semantics: the two appends are not atomic. A partial
    * failure (sigs landed, bands did not) only MISSES detections — band
    * rows are what generate candidates — and the recovery is to re-run
    * the same append: the resulting duplicate index rows are harmless to
    * queries because [[incrementalNearDups]] deduplicates per
    * (new_id, corpus_id) after its verify join, so a retried append is
    * idempotent at read time. Returns the index re-read from `dir`.
    * Build params must match [[writeMinhashIndex]]'s — the stored
    * `_meta.json` is validated and a mismatch throws before any append
    * lands (appending rows banded under a different config would corrupt
    * the index far worse than a mismatched query); a legacy untagged
    * directory is tagged with the passed params on first append. */
  def appendMinhashIndex(batch: DataFrame, idCol: String, textCol: String,
                         dir: String, k: Int = 16, shingleN: Int = 3,
                         bands: Int = 8, rowsPerBand: Int = 2): MinhashIndex = {
    // validate BEFORE the localCheckpoint: a param/meta mismatch must not
    // cost a full signature pass over the batch first
    validateAppendParams(batch.sparkSession, dir, k, shingleN, bands, rowsPerBand)
    val bsigs = minhashSignature(batch, idCol, textCol, k, shingleN).localCheckpoint()
    try appendMinhashIndexFromSigs(bsigs, idCol, dir, k, shingleN, bands, rowsPerBand)
    finally Checkpoints.free(bsigs) // both appends landed; release the blocks
  }

  // shared fail-fast half of the append: banding arithmetic + stored-meta
  // agreement (stamping the tag on a legacy untagged directory)
  private def validateAppendParams(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, k: Int, shingleN: Int,
                                   bands: Int, rowsPerBand: Int): Unit = {
    require(bands * rowsPerBand == k,
      s"bands * rowsPerBand must equal k, got $bands * $rowsPerBand != $k")
    val passed = MinhashMeta(k, shingleN, bands, rowsPerBand)
    MinhashMeta.read(spark, dir) match {
      case Some(stored) => require(stored == passed,
        s"appendMinhashIndex build-param mismatch: stored $stored, passed " +
          s"$passed — appending rows banded under a different config would " +
          "corrupt the index; use the stored values")
      case None => MinhashMeta.write(spark, dir, passed)
    }
  }

  /** [[appendMinhashIndex]] over an already-MATERIALIZED signature table
    * (the caller must have localCheckpointed it: both appended tables
    * derive from that one evaluation, which is what keeps a
    * non-deterministic batch plan from persisting a bands table
    * inconsistent with the sigs table). Used by the streaming bodies so
    * one trigger evaluates the signature pipeline once. */
  private[graft] def appendMinhashIndexFromSigs(bsigs: DataFrame, idCol: String,
                                                dir: String, k: Int, shingleN: Int,
                                                bands: Int,
                                                rowsPerBand: Int): MinhashIndex = {
    val spark = bsigs.sparkSession
    validateAppendParams(spark, dir, k, shingleN, bands, rowsPerBand)
    IndexFiles.withWriteLease(spark, dir, "appendMinhashIndex") {
      bsigs.write.mode("append").parquet(s"$dir/sigs")
      minhashBands(bsigs, idCol, bands, rowsPerBand)
        .write.mode("append").parquet(s"$dir/bands")
      // keep any persisted band sketch covering the appended rows — without
      // this, a pre-append sketch would prune batch rows matching only the
      // appended docs (false negatives); see writeBandSketch
      maintainBandSketch(spark, dir, minhashBands(bsigs, idCol, bands, rowsPerBand))
    }
    MinhashIndex.read(spark, dir)
  }

  /** Compact a stored [[MinhashIndex]] in place: drop tombstoned ids
    * (documents deleted from the corpus — their index rows would keep
    * matching forever) and collapse duplicate rows left by retried
    * [[appendMinhashIndex]] runs. The rewrite is index-sized (the tables
    * are K+bands BIGINTs per doc, never corpus text) and staged: the
    * compacted tables write to sibling `_*_compact` directories FROM the
    * live files, then swap in via two renames — new reads see the
    * compacted index, and a reader that already OPENED the old files
    * finishes against them where the filesystem unlinks on delete
    * (HDFS/POSIX); a DataFrame handle CREATED before the swap but
    * evaluated after it fails on vanished files — re-read (the swapped
    * path's file-status cache is refreshed here) after compacting.
    * Not concurrency-safe against a SIMULTANEOUS
    * append (the standard LSM-style compaction contract: quiesce writers
    * or serialize compactions with appends). `_meta.json` is a sibling
    * file the swap never touches, so the build-param tag survives.
    *
    * Crash safety: the swap's window — rename(live, old) succeeded,
    * rename(stage, live) did not — leaves no live directory;
    * [[MinhashIndex.read]] detects that state and renames `_*_old` back
    * (the pre-compaction table: correct, just uncompacted — rerun the
    * compaction). Note the rename-based swap assumes rename is atomic and
    * cheap, which holds on HDFS-like filesystems and LOCAL disk but NOT on
    * object stores (S3 renames are copy+delete, neither atomic nor O(1)) —
    * on an object store, front the index directory with a manifest/pointer
    * layer (HDFS-style metadata over object storage) or a table format
    * that owns the swap, rather than pointing this at a bare bucket. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                          dropIds: Option[DataFrame] = None,
                          idCol: String = "doc_id"): MinhashIndex = {
    def prune(df: DataFrame, dedupCols: Seq[String]): DataFrame =
      dropIds.fold(df)(ids =>
          df.join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_anti"))
        .dropDuplicates(dedupCols)
    // ONE lease across both swaps (the inner stagedSwap leases re-enter):
    // releasing between them would let a concurrent append interleave
    // with the sigs-swapped/bands-unswapped state
    IndexFiles.withWriteLease(spark, dir, "compactMinhashIndex") {
      IndexFiles.stagedSwap(spark, dir, "sigs")(df => prune(df, Seq(idCol)))
      IndexFiles.stagedSwap(spark, dir, "bands")(
        df => prune(df, Seq(idCol, "band", "band_key")))
    }
    MinhashIndex.read(spark, dir)
  }

  // THE one copy of the signature-agreement verify (every pair producer —
  // the incremental/cross index queries and the (d1, d2) self/batch pair
  // sets — goes through here, so the "one uniform pair definition" the
  // cluster-state operators lean on cannot drift): join each side's sigs,
  // count agreeing positions, keep pairs at >= minMatches. dropDuplicates
  // guards against duplicate sig rows (a retried append) fanning one
  // logical pair into several.
  private def sigAgreement(pairs: DataFrame, leftSigs: DataFrame,
                           rightSigs: DataFrame, idCol: String, leftId: String,
                           rightId: String, minMatches: Int): DataFrame =
    pairs
      .join(leftSigs.select(col(idCol).as(leftId),
        col("sig").as("__s1")), leftId)
      .join(rightSigs.select(col(idCol).as(rightId),
        col("sig").as("__s2")), rightId)
      .withColumn("sig_matches",
        expr("CAST(SIZE(FILTER(ZIP_WITH(__s1, __s2, (a, b) -> a = b), x -> x)) AS BIGINT)"))
      .filter(col("sig_matches") >= minMatches)
      .dropDuplicates(leftId, rightId)

  private def verifySigPairs(sigs: DataFrame, pairs: DataFrame, idCol: String,
                             minMatches: Int): DataFrame =
    sigAgreement(pairs, sigs, sigs, idCol, "d1", "d2", minMatches)
      .select("d1", "d2")

  /** Verified near-dup pairs WITHIN one stored [[MinhashIndex]]: the band
    * table's self-join (canonical d1 < d2) verified against the stored
    * sigs at `minMatches` — the corpus-internal pair set an incremental
    * deployment computes ONCE to seed its cluster state
    * ([[writeClusterState]]). Index-sized: candidates come from a band-key
    * shuffle of the stored band table and only candidates pay the
    * signature verify; corpus text is never read. */
  def indexSelfPairs(index: MinhashIndex, idCol: String, k: Int = 16,
                     minMatches: Int = 8): DataFrame = {
    index.meta.foreach(m => require(m.k == k,
      s"indexSelfPairs: k=$k differs from the stored k=${m.k}"))
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    verifySigPairs(index.sigs, minhashCandidates(index.bands, idCol), idCol,
      minMatches)
  }

  /** Verified near-dup pairs WITHIN a batch: LSH candidates
    * ([[minhashCandidates]]) confirmed by signature agreement at
    * `minMatches` — the same pair definition [[incrementalNearDups]]
    * applies across the batch/corpus boundary, so the three pair sets an
    * incremental clustering run feeds to [[mergeClusters]] (stored
    * corpus-internal, cross, in-batch) are one uniform relation. The
    * batch signature subplan evaluates once for the candidates and twice
    * in the verify join — the adjudicated incremental-batch trade (see
    * [[incrementalNearDups]]); persist the batch sigs if batches are
    * huge. */
  def batchNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, shingleN: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2, minMatches: Int = 8): DataFrame = {
    require(bands * rowsPerBand == k,
      s"bands * rowsPerBand must equal k, got $bands * $rowsPerBand != $k")
    require(minMatches >= 1 && minMatches <= k,
      s"minMatches must be in [1, $k], got $minMatches")
    val sigs = minhashSignature(docs, idCol, textCol, k, shingleN)
    batchNearDupPairsFromSigs(sigs,
      minhashBands(sigs, idCol, bands, rowsPerBand), idCol, minMatches)
  }

  /** [[batchNearDupPairs]] over an already-computed (usually
    * localCheckpointed) signature table — the spelling the streaming
    * foreachBatch bodies use so one trigger evaluates the signature
    * pipeline once across check/fold/append. */
  private[graft] def batchNearDupPairsFromSigs(bsigs: DataFrame, bband: DataFrame,
                                               idCol: String,
                                               minMatches: Int): DataFrame =
    verifySigPairs(bsigs, minhashCandidates(bband, idCol), idCol, minMatches)

  /** Fold a batch's near-dup pairs into an EXISTING cluster assignment
    * WITHOUT re-running connected components over the corpus —
    * incremental CC maintenance, the missing piece between
    * [[incrementalNearDups]] (pair detection against a stored index) and
    * [[duplicateClusters]] (whole-corpus clustering): at 100 TB the
    * corpus-wide CC is a build-time cost, and each ingest batch must
    * update the keeper map at BATCH cost, not corpus cost.
    *
    * Inputs: `stored` — the current (doc_id, keeper) assignment (every
    * keeper the min id of its cluster, [[duplicateClusters]]'s
    * invariant); `crossPairs` — batch-vs-corpus pairs as
    * (new_id, corpus_id) (from [[incrementalNearDups]]); `inBatchPairs` —
    * batch-internal pairs as (d1, d2) (from [[batchNearDupPairs]]). Ids
    * must be unique across corpus and batch (the standard index
    * contract).
    *
    * Algorithm: contract the stored partition to its keepers (contraction
    * by any valid partition preserves components), build the merge graph
    * over {touched keepers, touched corpus singletons, batch ids} — its
    * size is bounded by the PAIR count, never the corpus — solve CC there
    * ([[duplicateClusters]]), then relabel. Every stored keeper is the
    * min id of its cluster and batch/singleton nodes are their own ids,
    * so the merge component's min label IS the merged cluster's global
    * min id: the output is exactly what [[duplicateClusters]] would
    * return over the union of all three pair sets (spec-pinned).
    *
    * Scale shape: the only corpus-sized work is ONE equi-join of `stored`
    * against the relabel map, which is merge-CC-sized (touched clusters
    * only) and therefore broadcastable — AQE picks the broadcast at
    * runtime. Returns the full updated (doc_id, keeper); docs in no pair
    * ever still have no row (same coverage rule as
    * [[duplicateClusters]]). */
  def mergeClusters(stored: DataFrame, crossPairs: DataFrame,
                    inBatchPairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val (relabel, extras) = mergeRelabel(stored, crossPairs, inBatchPairs, maxIter)
    stored.join(relabel, stored("keeper") === col("__old"), "left")
      .select(stored("doc_id"),
        coalesce(col("__new"), stored("keeper")).as("keeper"))
      .unionAll(extras)
  }

  // the merge-CC core of mergeClusters: returns (relabel, extras) where
  // relabel maps each merge-graph node (__old -> __new; stored-keeper
  // nodes relabel their whole cluster through a join on stored.keeper)
  // and extras are the merge-graph nodes with no stored row (batch docs +
  // corpus singletons) as (doc_id, keeper) rows. Both are merge-CC-sized
  // — bounded by the PAIR count, never the corpus — which is what lets
  // the partitioned fold below rewrite only touched buckets.
  private def mergeRelabel(stored: DataFrame, crossPairs: DataFrame,
                           inBatchPairs: DataFrame,
                           maxIter: Int): (DataFrame, DataFrame) = {
    // batch endpoints keep their ids; corpus endpoints contract to their
    // stored keeper (docs absent from `stored` are singletons = own id)
    val keeperOf = stored.select(col("doc_id").as("__cid"), col("keeper").as("__k"))
    val crossEdges = crossPairs.select(col("new_id"), col("corpus_id"))
      .join(keeperOf, col("corpus_id") === col("__cid"), "left")
      .select(col("new_id").as("d1"),
        coalesce(col("__k"), col("corpus_id")).as("d2"))
    val merged = duplicateClusters(
      crossEdges.unionAll(inBatchPairs.select(col("d1"), col("d2"))), maxIter)
    // relabel map: merge-graph node -> its merged component's min id.
    // Batch ids and corpus singletons cannot collide with stored keepers
    // (ids unique across sides; singletons have no stored row).
    val relabel = merged.select(col("doc_id").as("__old"), col("keeper").as("__new"))
    val extras = merged
      .join(stored.select(col("doc_id").as("__d")),
        merged("doc_id") === col("__d"), "left_anti")
      .select(col("doc_id"), col("keeper"))
    (relabel, extras)
  }

  /** Pair-definition parameters of a persisted cluster state, stamped
    * into `dir/_cluster_meta.json` at seed time and validated by every
    * fold/compact: `minMatches` (the signature-agreement threshold the
    * state's pairs were verified under) plus the index build params the
    * state was seeded against. The keeper map carries no threshold
    * per-row, so folding pairs produced under a DIFFERENT minMatches (or
    * against a rebuilt index with different k/bands) silently merges
    * clusters under a different similarity definition than the stored
    * assignment — the exact quiet-drift class the [[MinhashMeta]] /
    * `Bm25Meta` / `IvfPqMeta` tags close for the other three persisted
    * families. Shared by the plain and partitioned layouts (it describes
    * the PAIRS, not the storage). */
  final case class ClusterMeta(minMatches: Int, k: Int, shingleN: Int,
                               bands: Int, rowsPerBand: Int)

  object ClusterMeta {
    private val fileName = "_cluster_meta.json"

    def write(spark: org.apache.spark.sql.SparkSession, dir: String,
              m: ClusterMeta): Unit =
      IndexFiles.writeFileSwap(spark, dir, fileName,
        (s"""{"minMatches":${m.minMatches},"k":${m.k},""" +
          s""""shingleN":${m.shingleN},"bands":${m.bands},""" +
          s""""rowsPerBand":${m.rowsPerBand}}""").getBytes("UTF-8"))

    /** None for a pre-meta (legacy) cluster-state directory. */
    def read(spark: org.apache.spark.sql.SparkSession,
             dir: String): Option[ClusterMeta] =
      IndexFiles.readFileWithRecovery(spark, dir, fileName).map { bytes =>
        val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
        def int(name: String): Int = (j \ name) match {
          case org.json4s.JInt(v) => v.toInt
          case other => throw new IllegalArgumentException(
            s"malformed cluster-state meta at $dir/$fileName: field $name = $other")
        }
        ClusterMeta(int("minMatches"), int("k"), int("shingleN"),
          int("bands"), int("rowsPerBand"))
      }
  }

  // the pair definition a seed stamps: the passed threshold + the stored
  // index's build params (the defaults for a legacy untagged index)
  private def clusterMetaOf(idxMeta: Option[MinhashMeta],
                            minMatches: Int): ClusterMeta = {
    val im = idxMeta.getOrElse(MinhashMeta(16, 3, 8, 2))
    ClusterMeta(minMatches, im.k, im.shingleN, im.bands, im.rowsPerBand)
  }

  // bracket marker for the cluster-state seed/re-seed: the meta stamp and
  // the assignment write are separate steps, so a re-seed that crashes
  // between them leaves the OLD definition's keeper map validated by the
  // NEW definition's meta — every later fold would then pass validation
  // while folding mismatched pairs, the exact drift the tag exists to stop
  private val clusterSeedMarker = "_cluster_seed_intent"

  private def requireNoTornClusterSeed(spark: org.apache.spark.sql.SparkSession,
                                       dir: String, what: String): Unit =
    require(!IndexFiles.markerExists(spark, dir, clusterSeedMarker),
      s"$what: torn cluster-state seed at $dir (its $clusterSeedMarker " +
        "marker survived a crash) — the keeper map and _cluster_meta.json " +
        "may be from different seeds; re-run the seeding call")

  /** Fail loudly when a fold/compact's pair definition disagrees with the
    * stored one (stored-vs-passed in the message); stamp a legacy
    * directory with the passed definition on first maintenance — the same
    * discipline as the other three families' meta tags. */
  private def requireClusterMeta(spark: org.apache.spark.sql.SparkSession,
                                 dir: String, what: String,
                                 minMatches: Int): Unit = {
    requireNoTornClusterSeed(spark, dir, what)
    val passed = clusterMetaOf(MinhashMeta.read(spark, dir), minMatches)
    ClusterMeta.read(spark, dir) match {
      case Some(stored) => require(stored == passed,
        s"$what: cluster-state pair-definition mismatch at $dir: stored " +
          s"$stored, passed $passed — folding pairs verified under a " +
          "different similarity threshold (or against a rebuilt index) " +
          "silently merges clusters under a different definition than the " +
          "stored assignment; use the stored values or re-seed")
      case None => ClusterMeta.write(spark, dir, passed)
    }
  }

  /** Seed + persist the cluster state for the stored index at `dir`:
    * connected components over [[indexSelfPairs]] written to
    * `dir/clusters` — run once at index build time, then maintained per
    * batch by [[foldClusterState]]. `k` is taken from the index's
    * `_meta.json` tag when present. Stamps the pair definition into
    * `_cluster_meta.json` ([[ClusterMeta]]) — a re-seed re-stamps it (a
    * new incarnation, like every rebuild here). Returns the state re-read
    * from `dir`. */
  def writeClusterState(spark: org.apache.spark.sql.SparkSession, dir: String,
                        idCol: String = "doc_id",
                        minMatches: Int = 8): DataFrame = {
    val idx = MinhashIndex.read(spark, dir)
    val k = idx.meta.map(_.k).getOrElse(16)
    IndexFiles.withWriteLease(spark, dir, "writeClusterState") {
      IndexFiles.createMarker(spark, dir, clusterSeedMarker)
      ClusterMeta.write(spark, dir, clusterMetaOf(idx.meta, minMatches))
      Checkpoints.scoped { // CC rounds' checkpoints die with the write
        duplicateClusters(
            indexSelfPairs(idx, idCol, k, minMatches)
              .select(col("d1"), col("d2")))
          .write.mode("overwrite").parquet(s"$dir/clusters")
      }
      IndexFiles.deleteMarker(spark, dir, clusterSeedMarker)
    }
    IndexFiles.readParquet(spark, s"$dir/clusters")
  }

  /** The persisted cluster assignment at `dir/clusters`, with the same
    * read-side crash recovery as the index tables (an interrupted
    * [[foldClusterState]] swap restores the pre-fold state — correct,
    * just missing the batch: re-run the fold). */
  def readClusterState(spark: org.apache.spark.sql.SparkSession,
                       dir: String): DataFrame = {
    requireNoTornClusterSeed(spark, dir, "readClusterState")
    IndexFiles.recoverInterruptedSwap(spark, dir, "clusters", "readClusterState")
    IndexFiles.readParquet(spark, s"$dir/clusters")
  }

  /** Fold a checked batch's pairs into the persisted cluster state:
    * [[mergeClusters]] over the live `dir/clusters` table, written back
    * via the staged two-rename swap (same crash contract and LSM-style
    * no-concurrent-writer rule as [[compactMinhashIndex]]). Call after
    * [[incrementalNearDups]] (whose output is `crossPairs`) and alongside
    * [[appendMinhashIndex]] — index append and cluster fold are separate
    * idempotent-to-retry steps of one ingest. `minMatches` declares the
    * threshold the folded pairs were verified under — validated against
    * the stored `_cluster_meta.json` pair definition, throwing with
    * stored-vs-passed values BEFORE anything is written (folding pairs
    * from a different definition silently drifts the keeper map; a
    * legacy untagged state is stamped with the passed definition).
    * Returns the updated state re-read from `dir`. */
  def foldClusterState(spark: org.apache.spark.sql.SparkSession, dir: String,
                       crossPairs: DataFrame, inBatchPairs: DataFrame,
                       minMatches: Int = 8): DataFrame = {
    requireClusterMeta(spark, dir, "foldClusterState", minMatches)
    // materialize the inputs first: the swap rewrite must not re-evaluate
    // plans that could read the table mid-rename
    val cross = crossPairs.select(col("new_id"), col("corpus_id")).localCheckpoint()
    val inb = inBatchPairs.select(col("d1"), col("d2")).localCheckpoint()
    try Checkpoints.scoped { // merge-CC checkpoints die with the swap
      IndexFiles.stagedSwap(spark, dir, "clusters")(
        stored => mergeClusters(stored, cross, inb))
    } finally Checkpoints.free(cross, inb) // swap committed; release the blocks
    readClusterState(spark, dir)
  }

  /** Merge TWO cluster assignments through their cross-corpus pairs — the
    * keeper-map companion of [[crossIndexNearDups]] (which finds the
    * pairs): union two curated corpora (merge two crawls, fold a vendor
    * drop into the holdings) WITHOUT re-running CC over either corpus.
    * `storedA`/`storedB` are each corpus's (doc_id, keeper) assignment
    * ([[writeClusterState]]'s invariant: keeper = min id of its cluster);
    * `crossPairs` is [[crossIndexNearDups]]'s (a_id, b_id) output. Ids
    * must be unique ACROSS the two corpora (the same contract as every
    * cross-corpus operator here).
    *
    * Both endpoints contract to their own side's keeper (docs absent
    * from their assignment are singletons = own id), CC runs over the
    * contracted graph — bounded by the cross-pair count — and each
    * side's assignment relabels through the merge-CC-sized map, exactly
    * the [[mergeClusters]] argument applied twice: every node label is
    * the min id of a cluster (or a singleton's own id), so the merged
    * component's min label is the global min over the union. The result
    * equals [[duplicateClusters]] over (pairsA UNION pairsB UNION cross)
    * — oracle-gated. */
  def mergeClusterStates(storedA: DataFrame, storedB: DataFrame,
                         crossPairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val ka = storedA.select(col("doc_id").as("__ida"), col("keeper").as("__ka"))
    val kb = storedB.select(col("doc_id").as("__idb"), col("keeper").as("__kb"))
    val edges = crossPairs.select(col("a_id"), col("b_id"))
      .join(ka, col("a_id") === col("__ida"), "left")
      .join(kb, col("b_id") === col("__idb"), "left")
      .select(coalesce(col("__ka"), col("a_id")).as("d1"),
        coalesce(col("__kb"), col("b_id")).as("d2"))
    val merged = duplicateClusters(edges, maxIter)
    val relabel = merged.select(col("doc_id").as("__old"), col("keeper").as("__new"))
    def relabeled(stored: DataFrame): DataFrame =
      stored.join(relabel, stored("keeper") === col("__old"), "left")
        .select(stored("doc_id"),
          coalesce(col("__new"), stored("keeper")).as("keeper"))
    // merge-graph nodes in NEITHER assignment: singletons of either
    // corpus pulled into a cross cluster
    val extras = merged
      .join(storedA.select(col("doc_id").as("__d")).unionAll(
        storedB.select(col("doc_id").as("__d"))),
        merged("doc_id") === col("__d"), "left_anti")
      .select(col("doc_id"), col("keeper"))
    relabeled(storedA).unionAll(relabeled(storedB)).unionAll(extras)
  }

  /** [[mergeClusterStates]] by directory, with the pair-definition guard
    * the raw-DataFrame spelling cannot have: both states'
    * `_cluster_meta.json` tags must agree with each other AND with the
    * passed `minMatches` (the threshold `crossPairs` was verified under,
    * via [[crossIndexNearDups]]) — merging keeper maps built under
    * different similarity definitions produces a map meaning neither.
    * Legacy untagged sides skip their half of the check (documented, like
    * every legacy path here). */
  def mergeClusterStateDirs(spark: org.apache.spark.sql.SparkSession,
                            dirA: String, dirB: String, crossPairs: DataFrame,
                            minMatches: Int = 8, maxIter: Int = 20): DataFrame = {
    val ma = ClusterMeta.read(spark, dirA)
    val mb = ClusterMeta.read(spark, dirB)
    (ma, mb) match {
      case (Some(a), Some(b)) => require(a == b,
        s"mergeClusterStateDirs: pair-definition mismatch between the two " +
          s"states: $dirA stored $a, $dirB stored $b — their keeper maps " +
          "were built under different similarity definitions and cannot be " +
          "merged; re-seed one side")
      case _ => ()
    }
    Seq(dirA -> ma, dirB -> mb).foreach { case (d, m) =>
      m.foreach(stored => require(stored.minMatches == minMatches,
        s"mergeClusterStateDirs: cross pairs verified under minMatches=" +
          s"$minMatches but the state at $d stores $stored — use the " +
          "stored threshold for the cross check"))
    }
    mergeClusterStates(readClusterState(spark, dirA),
      readClusterState(spark, dirB), crossPairs, maxIter)
  }

  /** Bucket expression shared by the partitioned cluster-state spelling:
    * a doc's row lives in pmod(xxhash64(doc_id), buckets) FOREVER (the
    * bucket is keyed by doc_id, never by keeper — a keeper change must
    * not move rows between buckets, or a dynamic-partition rewrite of
    * the new bucket would strand the stale copy in the old one). */
  private def clusterBucket(buckets: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(buckets.toLong))

  private val clusterPartMeta = "_clusters_p_meta.json"
  private val clusterPartInflight = "_clusters_p_inflight"

  // (buckets, id/keeper schema DDL, live data path) from the meta sidecar
  // — the meta IS the commit pointer: data lands in a bucket-count-
  // versioned directory first, the meta swap publishes it (see
  // writeClusterStatePartitioned), so no crash window can pair one
  // modulus's meta with another modulus's rows
  private def clusterPartInfo(spark: org.apache.spark.sql.SparkSession,
                              dir: String): (Int, String, String) = {
    val bytes = IndexFiles.readFileWithRecovery(spark, dir, clusterPartMeta)
      .getOrElse(throw new IllegalArgumentException(
        s"no partitioned cluster state at $dir ($clusterPartMeta missing) — " +
          "seed it with writeClusterStatePartitioned"))
    val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
    val buckets = (j \ "buckets") match {
      case org.json4s.JInt(v) => v.toInt
      case other => throw new IllegalArgumentException(
        s"malformed $clusterPartMeta at $dir: buckets = $other")
    }
    val ddl = (j \ "schema") match {
      case org.json4s.JString(v) => v
      case other => throw new IllegalArgumentException(
        s"malformed $clusterPartMeta at $dir: schema = $other")
    }
    (buckets, ddl, s"$dir/clusters_p_$buckets")
  }

  /** [[writeClusterState]] in the PARTITIONED layout — the 100 TB
    * deployment spelling: [[foldClusterStatePartitioned]] rewrites ONLY
    * the buckets containing changed rows, so the per-batch write is
    * touched-buckets-sized instead of the whole corpus-sized assignment
    * (the plain `clusters` table's stagedSwap rewrite). Size `buckets` so
    * corpus_rows/buckets fits a comfortable rewrite unit (e.g. 1e10 rows
    * / 4096 buckets ~ 2.4M rows/bucket ~ 40 MB).
    *
    * Layout + commit protocol: rows live under
    * `dir/clusters_p_<buckets>/__bucket=<pmod(xxhash64(doc_id), buckets)>`
    * and the `_clusters_p_meta.json` sidecar carries {buckets, schema} —
    * data writes FIRST (partitionOverwriteMode pinned STATIC so a re-seed
    * replaces the whole version dir even under a session-wide dynamic
    * setting), the meta swap publishes it LAST, and the data path is
    * versioned by the modulus, so a crash anywhere leaves the meta
    * pointing at a fully consistent (old or new) table; a re-seed to a
    * NEW bucket count never shares a directory with the old rows. Stale
    * version dirs are best-effort deleted after the swap. */
  def writeClusterStatePartitioned(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, idCol: String = "doc_id",
                                   minMatches: Int = 8,
                                   buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val idx = MinhashIndex.read(spark, dir)
    val k = idx.meta.map(_.k).getOrElse(16)
    IndexFiles.withWriteLease(spark, dir, "writeClusterStatePartitioned") {
      IndexFiles.createMarker(spark, dir, clusterSeedMarker)
      ClusterMeta.write(spark, dir, clusterMetaOf(idx.meta, minMatches))
      val dataPath = s"$dir/clusters_p_$buckets"
      // the scope opens BEFORE the CC runs (duplicateClusters materializes
      // its rounds eagerly) so the rounds' checkpoints die with the write;
      // only the schema DDL (plan metadata, no blocks) escapes
      val seededDdl = Checkpoints.scoped {
        val seeded = duplicateClusters(
          indexSelfPairs(idx, idCol, k, minMatches).select(col("d1"), col("d2")))
        seeded
          .withColumn("__bucket", clusterBucket(buckets))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "static")
          .partitionBy("__bucket")
          .parquet(dataPath)
        seeded.schema.toDDL
      }
      IndexFiles.writeFileSwap(spark, dir, clusterPartMeta,
        (s"""{"buckets":$buckets,""" +
          s""""schema":"${seededDdl.replace("\"", "")}"}""").getBytes("UTF-8"))
      // best-effort cleanup of superseded version dirs (other moduli)
      val f = IndexFiles.fs(spark, new org.apache.hadoop.fs.Path(dir))
      Option(f.globStatus(new org.apache.hadoop.fs.Path(s"$dir/clusters_p_*")))
        .getOrElse(Array.empty).map(_.getPath)
        .filter(_.getName != s"clusters_p_$buckets")
        .foreach(p => f.delete(p, true))
      spark.catalog.refreshByPath(dataPath)
      IndexFiles.deleteMarker(spark, dir, clusterSeedMarker)
    }
    readClusterStatePartitioned(spark, dir)
  }

  /** The partitioned cluster assignment (without the bucket column).
    * Crash contract: an ABORTED fold write leaves the committed pre-fold
    * partitions in place (Spark's job-commit staging); a crash DURING the
    * multi-partition commit can leave a torn mix of old and new buckets —
    * the `_clusters_p_inflight` marker records that window and the next
    * [[foldClusterStatePartitioned]] (or an explicit
    * [[repairClusterStatePartitioned]]) restores the keeper invariant
    * before folding; the at-least-once re-run of the same batch then
    * restores any missing batch rows. */
  def readClusterStatePartitioned(spark: org.apache.spark.sql.SparkSession,
                                  dir: String): DataFrame = {
    requireNoTornClusterSeed(spark, dir, "readClusterStatePartitioned")
    clustersP(spark, dir)._1.select("doc_id", "keeper")
  }

  // (frame, buckets, dataPath); explicit schema because a seeded-but-empty
  // state (corpus with no internal near-dup pairs) has partition dirs for
  // nothing — inference over only a _SUCCESS marker throws
  private def clustersP(spark: org.apache.spark.sql.SparkSession,
                        dir: String): (DataFrame, Int, String) = {
    val (buckets, ddl, path) = clusterPartInfo(spark, dir)
    (spark.read.schema(s"$ddl, __bucket BIGINT").parquet(path), buckets, path)
  }

  /** Restore the keeper invariant after a fold crashed MID-COMMIT of its
    * dynamic partition overwrite (the `_clusters_p_inflight` marker): a
    * torn mix of old and new buckets can hold rows whose keeper was
    * itself relabeled — (d, k) while k's own row reads (k, k') — or rows
    * referencing a keeper whose (k, k) row sat in an uncommitted bucket.
    * Iterates two batch-bounded repairs to a fixed point: stale rows jump
    * to their keeper's CURRENT label, and referenced-but-missing keepers
    * get their (k, k) row back; only buckets holding a repaired row are
    * rewritten. Missing non-keeper batch rows are NOT recoverable from
    * the table alone — they return on the at-least-once re-run of the
    * same batch (the streaming engine's replay), which is the documented
    * remedy. Detection is one column-pruned self-join per pass; passes
    * only exceed one after REPEATED torn commits. */
  def repairClusterStatePartitioned(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, maxPasses: Int = 20): Unit = {
    val (_, buckets, _) = clustersP(spark, dir)
    var pass = 0
    var dirty = true
    while (dirty && pass < maxPasses) {
      val (st, _, _) = clustersP(spark, dir)
      val keeperRows = st.select(col("doc_id").as("__kd"), col("keeper").as("__kk"))
      val joined = st.join(keeperRows, st("keeper") === col("__kd"), "left")
      // (a) keeper itself relabeled -> jump one hop
      val stale = joined.filter(col("__kk").isNotNull && col("__kk") =!= st("keeper"))
        .select(st("doc_id"), col("__kk").as("keeper"))
      // (b) keeper referenced but its own row missing -> restore (k, k)
      val dangling = joined.filter(col("__kk").isNull && st("keeper") =!= st("doc_id"))
        .select(st("keeper").as("doc_id"), st("keeper").as("keeper"))
        .distinct()
      val repaired = stale.unionAll(dangling)
        .withColumn("__bucket", clusterBucket(buckets))
        .localCheckpoint()
      if (repaired.isEmpty) dirty = false
      else {
        rewriteTouchedBuckets(spark, dir, repaired)
        pass += 1
      }
      Checkpoints.free(repaired) // pass complete; release the blocks
    }
    require(!dirty, s"repairClusterStatePartitioned: not converged after " +
      s"$maxPasses passes at $dir — table corrupted beyond the torn-commit model")
  }

  // rewrite exactly the buckets holding a changed/repaired row: bucket
  // contents = (old rows minus changed docs) union changed, committed via
  // dynamic partition overwrite; materialized first so the write cannot
  // re-read partitions it is replacing
  private def rewriteTouchedBuckets(spark: org.apache.spark.sql.SparkSession,
                                    dir: String, changed: DataFrame): Unit = {
    val (storedP, _, path) = clustersP(spark, dir)
    val touched = changed.select("__bucket").distinct()
      .collect().map(_.getLong(0))   // bounded by `buckets`, a driver scalar list
    if (touched.isEmpty) return
    val keep = storedP.filter(col("__bucket").isin(touched: _*))
      .join(changed.select(col("doc_id").as("__cd")),
        col("doc_id") === col("__cd"), "left_anti")
      .select(col("doc_id"), col("keeper"),
        col("__bucket").cast("bigint").as("__bucket"))
    IndexFiles.withWriteLease(spark, dir, "rewriteTouchedBuckets") {
      val marker = new org.apache.hadoop.fs.Path(s"$dir/$clusterPartInflight")
      val f = IndexFiles.fs(spark, marker)
      f.create(marker, true).close()
      val staged = keep.unionAll(changed.select("doc_id", "keeper", "__bucket"))
        .localCheckpoint()
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket")
        .parquet(path)
      Checkpoints.free(staged) // committed; release the blocks
      f.delete(marker, false)
      spark.catalog.refreshByPath(path)
    }
  }

  /** [[foldClusterState]] against the partitioned layout, with the WRITE
    * bounded by the touched buckets: the merge CC and relabel map are
    * pair-count-sized as before, the changed-row set (rows whose keeper
    * actually moved + brand-new rows) is bounded by the touched clusters,
    * and only the partitions holding a changed row are rewritten via
    * dynamic partition overwrite — untouched bucket files are never
    * read-modify-written. The corpus-sized cost that remains is the
    * columnar SCAN of (doc_id, keeper) feeding the contraction join —
    * ~16 B/doc, the check-side cost every fold variant pays — while the
    * write drops from corpus-sized to touched-buckets-sized.
    *
    * Crash handling: if a prior fold died mid-commit (its
    * `_clusters_p_inflight` marker is still present), the keeper
    * invariant is repaired FIRST ([[repairClusterStatePartitioned]]), so
    * the documented "re-run the fold with the same batch" remedy is
    * genuinely idempotent — the repair fixes torn relabels, the re-run
    * restores any batch rows whose bucket never committed. */
  def foldClusterStatePartitioned(spark: org.apache.spark.sql.SparkSession,
                                  dir: String, crossPairs: DataFrame,
                                  inBatchPairs: DataFrame,
                                  minMatches: Int = 8): DataFrame = {
    // pair-definition validation FIRST, before any repair or write (same
    // contract as the plain-layout fold)
    requireClusterMeta(spark, dir, "foldClusterStatePartitioned", minMatches)
    // repair BEFORE creating any handle over the table: the repair
    // rewrites buckets, and a DataFrame created pre-repair would list
    // vanished part files (the documented re-read-after-swap rule)
    if (IndexFiles.fs(spark, new org.apache.hadoop.fs.Path(dir))
        .exists(new org.apache.hadoop.fs.Path(s"$dir/$clusterPartInflight"))) {
      OpLog.warn("cluster.torn_fold_repair", s"foldClusterStatePartitioned: inflight marker " +
        s"found at $dir — repairing a torn fold commit before folding")
      repairClusterStatePartitioned(spark, dir)
    }
    val (storedP, buckets, path) = clustersP(spark, dir)
    val cross = crossPairs.select(col("new_id"), col("corpus_id")).localCheckpoint()
    val inb = inBatchPairs.select(col("d1"), col("d2")).localCheckpoint()
    val stored = storedP.select("doc_id", "keeper")
    // rows whose assignment actually changes: relabeled rows with a new
    // keeper, plus merge-graph nodes with no stored row — both bounded by
    // the touched clusters. The merge-CC checkpoints die once `changed`
    // is materialized (scoped; `changed` itself is untracked and survives)
    val changed = Checkpoints.scoped {
      val (relabel, extras) = mergeRelabel(stored, cross, inb, maxIter = 20)
      stored.join(relabel, stored("keeper") === col("__old"))
        .filter(col("__new") =!= stored("keeper"))
        .select(stored("doc_id"), col("__new").as("keeper"))
        .unionAll(extras)
        .withColumn("__bucket", clusterBucket(buckets))
        .localCheckpoint()
    }
    try rewriteTouchedBuckets(spark, dir, changed)
    finally Checkpoints.free(cross, inb, changed) // fold committed
    readClusterStatePartitioned(spark, dir)
  }

  /** Repair the persisted cluster state after documents are DROPPED from
    * the corpus — the cluster-side companion of [[compactMinhashIndex]],
    * and the one maintenance event an assignment table cannot absorb
    * locally: a deletion can SPLIT a cluster (connectivity may have
    * flowed through the dropped doc) and delete a keeper (orphaning the
    * label), so no relabel of surviving rows is correct in general.
    * Affected clusters — those containing a dropped id — are re-SOLVED
    * from the index pair set restricted to their surviving members: the
    * band self-join and signature verify run over member-sized slices of
    * the stored tables (semi-joined on the survivor set), never the
    * corpus, so the repair is proportional to the affected clusters.
    * Untouched clusters keep their rows verbatim. Survivors left in no
    * pair drop out of the state (the coverage rule everywhere else:
    * docs in no pair have no row).
    *
    * Correct because verified pairs never cross cluster boundaries (a
    * cross-cluster pair would have merged the clusters), so re-solving
    * each affected cluster over its own members reproduces exactly what
    * a full recompute over the shrunken corpus would assign
    * (oracle-gated). The survivor restriction is explicit, so the result
    * does not depend on whether [[compactMinhashIndex]] already removed
    * the dropped ids' index rows — run the two compactions in either
    * order. Write-back is the staged two-rename swap (same crash/LSM
    * contract as everywhere else). Returns the repaired state re-read
    * from `dir`. */
  def compactClusterState(spark: org.apache.spark.sql.SparkSession, dir: String,
                          dropIds: DataFrame, idCol: String = "doc_id",
                          minMatches: Int = 8): DataFrame = {
    // the repair re-SOLVES affected clusters from the index pair set, so
    // its minMatches must be the stored pair definition or the rebuilt
    // clusters use a different similarity than their untouched neighbors
    requireClusterMeta(spark, dir, "compactClusterState", minMatches)
    val idx = MinhashIndex.read(spark, dir)
    val k = idx.meta.map(_.k).getOrElse(16)
    val drops = dropIds.select(col(idCol).as("doc_id")).distinct()
      .localCheckpoint()
    try Checkpoints.scoped { IndexFiles.stagedSwap(spark, dir, "clusters") { stored =>
      val affectedKeepers = stored.join(drops, "doc_id")
        .select(col("keeper")).distinct()
      val survivors = stored.join(affectedKeepers, "keeper")
        .join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as(idCol))
      val subIdx = MinhashIndex(
        idx.bands.join(survivors, Seq(idCol), "left_semi"),
        idx.sigs.join(survivors, Seq(idCol), "left_semi"),
        idx.meta)
      val recomputed = duplicateClusters(indexSelfPairs(subIdx, idCol, k, minMatches))
      stored.join(affectedKeepers, Seq("keeper"), "left_anti")
        .select(col("doc_id"), col("keeper"))
        .unionAll(recomputed)
    } } finally Checkpoints.free(drops) // swap committed
    readClusterState(spark, dir)
  }

  /** Corpus-level MinHash sketch per group: elementwise minimum of the
    * per-doc signatures, i.e. the MinHash of the UNION of all shingle sets
    * in the group. Sketches are mergeable (min is associative/commutative),
    * so this is one partial+final shuffle regardless of corpus size — the
    * property that lets similarity estimation run over 100 TB: sketch each
    * partition, merge k longs per group. Returns (group, pos, min_h) rows. */
  def corpusSketch(docs: DataFrame, groupCol: String, textCol: String,
                   k: Int = 16, shingleN: Int = 3): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    docs.select(col(groupCol),
        posexplode(expr(HashSpec.minhashNative(textCol, k, shingleN))).as(Seq("pos", "h")))
      .groupBy(col(groupCol), col("pos"))
      .agg(min("h").as("min_h"))
  }

  /** Duplicate-cluster assignment: connected components over candidate
    * pairs, labeling every member with the smallest doc id in its component
    * (the canonical "keeper"). Pairs alone under-dedupe — A~B and B~C must
    * collapse to one cluster even when A~C was never emitted.
    *
    * Two-phase algorithm, both phases published MapReduce-CC shapes:
    *
    * Phase 1 — min-label propagation, [[propRounds]] rounds max. Each
    * round every node takes the min of its own and its neighbors' labels:
    * one edge join + one aggregation, the cheapest possible round. This
    * converges in (diameter + 1) rounds, and LSH duplicate clusters are
    * almost always tiny-diameter — at sf0.1 the whole fixture converges
    * here and phase 2 never runs.
    *
    * Phase 2 — if phase 1 hit its cap, contract the graph by the current
    * labels (label groups are connected by construction, so contraction
    * preserves components; after k collapse rounds the residual graph is
    * a small fraction of the input) and run alternating large-star /
    * small-star contraction (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii — "Connected Components in MapReduce and Beyond", SoCC
    * 2014) on the residual. Each large-star step connects every
    * strictly-larger neighbor of a node to the minimum of its closed
    * neighborhood; each small-star step does the same for the
    * smaller-or-equal neighbors; the paper proves O(log² n) rounds —
    * independent of component DIAMETER. At the fixed point every
    * component is a star rooted at its minimum id; composing star keepers
    * back through the phase-1 labels yields the global keeper map.
    *
    * Why not one phase? Star contraction alone pays ~6 shuffles per round
    * even when the graph is trivially small-diameter (measured 2.8s ->
    * 5.7s at sf0.1); propagation alone needs diameter rounds over the FULL
    * edge set, and near-dup chains (doc A copied to B, B to C, ...) give
    * real corpora diameters in the tens — the sf1 fixture needs 15
    * full-edge-set propagation rounds vs 4 propagation + 4 residual star
    * rounds under the hybrid (SCALING.md §7). Pointer jumping does NOT fix
    * propagation: jumps only help while label CHAINS exist, and
    * min-propagation keeps labels pointing directly at the current
    * champion, so chains never form on random-id graphs.
    *
    * The star loop's per-round convergence probe is a count +
    * order-independent bit_xor-of-xxhash64 checksum (one scalar pair to
    * the driver); only when the signature repeats does an exact symmetric
    * anti-join confirm the fixed point — by then the edge set is
    * star-sized.
    *
    * Stats detachment (the [[detachStats]] call at each round boundary) is
    * load-bearing: Spark's localCheckpoint carries the ORIGIN plan's
    * statistics into the replacement LogicalRDD, and a join's default size
    * estimate is the PRODUCT of its children's — so the carried BigInt
    * estimate compounds multiplicatively round over round until Catalyst's
    * stats visitor spends minutes multiplying million-bit BigIntegers and
    * PLANNING, not execution, becomes the bottleneck (observed stall at
    * sf1 with a deeper per-round plan). Rebuilding from the materialized
    * RDD drops originStats back to the default; AQE re-plans joins from
    * runtime sizes, so nothing is lost on the execution side.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // 5 = diameter-4 clusters converge (detection costs the +1 round) —
    // covers the LSH near-dup graphs seen in practice; anything deeper
    // falls through to contraction
    val propRounds = math.min(5, maxIter)
    // directed edges both ways for the propagation phase
    val edges = detachStats(pairs
      .select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .filter(col("a") =!= col("b")).distinct())
    var labels = detachStats(edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id")))
    var i = 0
    var converged = false
    while (i < propRounds && !converged) {
      val neighborMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("nid")).agg(min("label").as("nmin"))
      val updated = detachStats(
        labels.join(neighborMin, labels("id") === col("nid"), "left")
          .select(labels("id"),
            least(labels("label"), coalesce(col("nmin"), labels("label"))).as("next"),
            labels("label").as("prev")))
      converged = updated.filter(col("next") < col("prev")).isEmpty
      // `updated` is materialized (eager checkpoint) — the superseded
      // round's label blocks are dead; without this the loop pins one
      // node-sized table PER ROUND (VERDICT r12 #1)
      Checkpoints.free(labels)
      labels = updated.select(col("id"), col("next").as("label"))
      i += 1
      OpLog.debug("cc.prop_round", s"round=$i converged=$converged")
    }
    if (converged) {
      Checkpoints.free(edges) // not referenced by the returned plan
      labels.select(col("id").as("doc_id"), col("label").as("keeper"))
    } else {
      // contract by current labels (components preserved) and finish with
      // star rounds on the much smaller residual graph
      val la = labels.select(col("id").as("ia"), col("label").as("lu"))
      val lb = labels.select(col("id").as("ib"), col("label").as("lv"))
      val contracted = detachStats(edges
        .join(la, col("a") === col("ia")).join(lb, col("b") === col("ib"))
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .filter(col("u") =!= col("v")).distinct())
      Checkpoints.free(edges) // contracted is materialized; edges is dead
      val star = starContract(contracted, maxIter - propRounds)
      labels.join(star, labels("label") === star("doc_id"), "left")
        .select(labels("id").as("doc_id"),
          coalesce(star("keeper"), labels("label")).as("keeper"))
    }
  }

  /** Alternating large-star/small-star fixed point over canonical (u < v)
    * edges; returns (doc_id, keeper) for every node appearing in `edges0`
    * (see [[duplicateClusters]] for the algorithm and citations). */
  private def starContract(edges0: DataFrame, maxRounds: Int): DataFrame = {
    var edges = edges0
    val allNodes = detachStats(
      edges.select(col("u").as("id")).union(edges.select(col("v").as("id")))
        .distinct())

    def bothDirs(ed: DataFrame): DataFrame =
      ed.select(col("u").as("a"), col("v").as("b"))
        .union(ed.select(col("v").as("a"), col("u").as("b")))

    // large-star: for every node a, connect each neighbor b > a to
    // m = min(N(a) ∪ {a}); edges with b < a are emitted from b's own group
    def largeStar(ed: DataFrame): DataFrame = {
      val nb = bothDirs(ed)
      val m = nb.groupBy("a").agg(min("b").as("mb"))
        .select(col("a").as("ma"), least(col("a"), col("mb")).as("m"))
      nb.join(m, col("a") === col("ma"))
        .filter(col("b") > col("a"))
        .select(col("m").as("u"), col("b").as("v"))   // m <= a < b
        .distinct()
    }

    // small-star: for every node a, connect its strictly-smaller neighbors
    // and a itself to m = min of those smaller neighbors
    def smallStar(ed: DataFrame): DataFrame = {
      val nb = bothDirs(ed).filter(col("b") < col("a"))
      val m = nb.groupBy("a").agg(min("b").as("mb"))
      val redirected = nb.join(m, "a")
        .filter(col("b") =!= col("mb"))
        .select(col("mb").as("u"), col("b").as("v"))  // mb < b
      val anchor = m.select(col("mb").as("u"), col("a").as("v"))
      redirected.union(anchor).distinct()
    }

    def sig(ed: DataFrame): (Long, Long) = {
      val r = ed.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prev = edges
    var prevSig = sig(edges)
    var i = 0
    var converged = false
    while (i < maxRounds && !converged) {
      edges = detachStats(smallStar(largeStar(prev)))
      val s = sig(edges)
      if (s == prevSig)
        converged = edges.exceptAll(prev).isEmpty && prev.exceptAll(edges).isEmpty
      // the new round is materialized and the convergence probe above was
      // prev's last reader — release the superseded round's blocks (prev
      // may be the caller's edges0 in round 1: also dead, it is consumed
      // only by this loop)
      Checkpoints.free(prev)
      prev = edges
      prevSig = s
      i += 1
      OpLog.debug("cc.star_round", s"round=$i edges=${s._1} converged=$converged")
    }
    // fixed point: every component is a star (root u = component min); the
    // min-agg is a no-op there (each v has exactly one edge) and guards the
    // output shape if the maxIter cap ever fires pre-fixpoint
    val members = edges.groupBy(col("v").as("doc_id"))
      .agg(min("u").as("keeper"))
    val roots = allNodes.join(members, allNodes("id") === members("doc_id"), "left_anti")
      .select(col("id").as("doc_id"), col("id").as("keeper"))
    members.union(roots)
  }

  /** localCheckpoint, then rebuild the Dataset from the materialized RDD so
    * the new LogicalRDD carries NO origin statistics (see
    * [[duplicateClusters]]: carried stats compound multiplicatively across
    * loop rounds until BigInteger arithmetic stalls the planner). The
    * decode/re-encode of the small label table is noise next to the edge
    * join each round. */
  private def detachStats(df: DataFrame): DataFrame = {
    // tracked: a surrounding Checkpoints.scoped (every fold/seed that
    // materializes the CC output before returning) releases the terminal
    // rounds' blocks, which are otherwise unreachable once the caller's
    // rewrite plan is consumed
    val mat = Checkpoints.track(df.localCheckpoint())
    mat.sparkSession.createDataFrame(mat.rdd, mat.schema)
  }

  /** End of the dedup pipeline: keep one representative per duplicate
    * cluster — drops every doc labeled with a keeper other than itself.
    * Docs never seen in a candidate pair pass through untouched. */
  def dropDuplicates(docs: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    docs.join(
        clusters.filter(col("doc_id") =!= col("keeper")).select(col("doc_id").as("__drop")),
        docs(idCol) === col("__drop"), "left_anti")

  /** 32-bit SimHash per doc via the native Catalyst expression. */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    docs.select(col(idCol), expr(s"simhash32(SPLIT($textCol, ' '))").as("simhash"))
  }

  /** SimHash near-duplicate pairs: every unordered doc pair whose 32-bit
    * SimHash signatures differ in at most `maxHamming` bits.
    *
    * Never an all-pairs comparison: the signature splits into `bands`
    * equal bit-slices, and by pigeonhole two signatures within hamming
    * distance `bands - 1` (or less) must agree exactly on at least one
    * slice — so a self-equi-join on (band index, slice value) finds every
    * qualifying pair, and the exact `bit_count(a ^ b)` filter discards
    * band collisions. With the defaults (4 bands of 8 bits, maxHamming 3)
    * recall is exact, not approximate. Requires maxHamming < bands.
    *
    * Scale: one explode to `bands` rows per doc, one hash shuffle on the
    * (band, slice) key, and per-bucket joins sized by slice selectivity —
    * the same shape as the MinHash LSH path (minhashCandidates). A
    * pathological bucket (e.g. all-zero signatures from empty docs) is an
    * AQE skew-join candidate, not a plan change. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(32 % bands == 0, s"bands must divide 32, got $bands")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming >= $bands")
    val width = 32 / bands
    val mask = (1L << width) - 1
    val sh = simhash(docs, idCol, textCol)
    val banded = sh.select(col(idCol), col("simhash"),
      explode(expr(s"TRANSFORM(SEQUENCE(0, ${bands - 1}), " +
        s"b -> STRUCT(b AS band, SHIFTRIGHT(simhash, b * $width) & $mask AS slice))")).as("bs"))
      .select(col(idCol), col("simhash"), col("bs.band"), col("bs.slice"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.slice") === col("b.slice") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Wide-fingerprint near-dup pairs — the SCALE path of
    * [[simhashNearDups]]: 60-bit simhash with 4 x 15-bit pigeonhole bands
    * (the Manku et al. 2007 layout: 64-bit fingerprints, multi-bit band
    * tables). Same guaranteed recall argument (hamming <= maxHamming <
    * bands means one band slice is error-free), but the band space grows
    * 2^8 -> 2^15 buckets, so expected candidate pairs fall 128x at the
    * same corpus vs the 32-bit banding (measured exponent 1.68/decade).
    *
    * The banding is TWO-level pigeonhole (VERDICT r8 #4 — flat 15-bit
    * banding still measured exponent 1.28/decade on a near-dup-seeded
    * corpus: at sf1, 31.9M in-bucket candidates for 26.5k real pairs, max
    * bucket 3,779 docs). For a qualifying pair some band b is flip-free;
    * within b's bucket the <= maxHamming flips all fall in the OTHER
    * `60 - width` bits, so splitting that residual into `maxHamming + 1`
    * disjoint sub-slices pigeonholes again: at least one
    * (band, slice, sub, subslice) key matches EXACTLY. Every doc therefore
    * expands to bands*(maxHamming+1) keys (16 by default, each packed into
    * one BIGINT: 4 id bits + 15 slice + 12 subslice = 31 bits), and one
    * groupBy on that key finds every qualifying pair — no self-join, no
    * hot-bucket special case, ONE evaluation of the signature pipeline,
    * and EXACT recall (the brute-force oracle stays hash-identical).
    * Measured at sf1: candidate pairs 31.9M (flat) -> 4.0M (refined keys),
    * max bucket 3,779 -> 400; warm solo wall 8.0s -> ~2.5s, and the
    * sf0.1 -> sf1 exponent from 1.28 to ~0.6/decade.
    *
    * Scale: shuffle volume is 16 rows x 24 bytes per doc (key + id + sig)
    * regardless of text size; bucket population thins as corpus diversity
    * grows (27-bit effective key space per (band, sub) table). Memory
    * ceiling: one collected bucket array (16 bytes/member) during the
    * shuffle, but the pair expansion materializes C(g, 2) candidate
    * structs per g-member bucket before its hamming filter — fine for
    * banding collisions (max refined bucket 400 at sf1), quadratic for a
    * mega-group of IDENTICAL signatures (e.g. 10^5 copies of one
    * boilerplate text), where the C(g, 2) hamming-0 pairs are also the
    * required OUTPUT. Run exact dedup first (as every real pipeline
    * does — [[exactDups]]/[[dropDuplicates]]) so identical-text groups
    * never reach near-dup detection; if a refined bucket still saturates
    * on genuinely distinct near-dups (~10^6 docs sharing 27 signature
    * bits), widen the fingerprint or add a third level. NULL ids and
    * NULL-text docs (NULL signature) are excluded up front — the join
    * spelling this replaced dropped both via join-key semantics, and a
    * NULL-signature group would otherwise collect every such doc into
    * one degenerate bucket. */
  def simhashNearDupsWide(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    val sh = docs.select(col(idCol),
      expr(s"simhash60(SPLIT($textCol, ' '))").as("simhash"))
      .filter(col(idCol).isNotNull && col("simhash").isNotNull)
    // one shuffle on the packed key; members sorted so ms[i].i < ms[j].i
    // makes every emitted pair (d1 < d2) without a post-sort
    val buckets = sh
      .select(col(idCol), col("simhash"),
        explode(expr(simhash60PackedKeys(maxHamming, bands))).as("bkey"))
      .groupBy("bkey")
      .agg(sort_array(collect_list(struct(col(idCol).as("i"), col("simhash").as("s"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
    // in-array pair expansion + exact hamming verify, filtered BEFORE the
    // explode so only real near-dups ever become rows
    val pairsExpr = expr(
      s"""FILTER(FLATTEN(TRANSFORM(SEQUENCE(0, SIZE(ms) - 2),
         |  i -> TRANSFORM(SEQUENCE(i + 1, SIZE(ms) - 1),
         |    j -> STRUCT(ms[i].i AS d1, ms[j].i AS d2,
         |      CAST(BIT_COUNT(ms[i].s ^ ms[j].s) AS BIGINT) AS hamming)))),
         |  p -> p.hamming <= $maxHamming)""".stripMargin)
    buckets.select(explode(pairsExpr).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"), col("p.hamming").as("hamming"))
      .distinct()
  }

  /** SQL for the two-level packed band keys over a `simhash` column —
    * shared by [[simhashNearDupsWide]] and the `tools` SimhashProbe so the
    * probe's bucket statistics always describe the SHIPPED key layout.
    * Key = (band*nSub + k) | band slice | k-th residual sub-slice, packed
    * into one BIGINT (4 + 15 + 12 bits at the defaults). */
  private[graft] def simhash60PackedKeys(maxHamming: Int, bands: Int): String = {
    // Validated HERE, in the shared builder, so every spelling that expands
    // these keys (batch simhashNearDupsWide, streaming
    // StreamingDedup.nearDupPairs, the tools probe) fails loudly on a
    // configuration that breaks the two-level pigeonhole guarantee —
    // with maxHamming >= bands qualifying pairs would be silently missed.
    require(60 % bands == 0, s"bands must divide 60, got $bands")
    require(maxHamming < bands,
      s"pigeonhole needs maxHamming < bands, got $maxHamming >= $bands")
    val width = 60 / bands
    val mask = (1L << width) - 1
    val nSub = maxHamming + 1
    val resWidth = 60 - width
    val subW = (resWidth + nSub - 1) / nSub
    val idBits = 64 - java.lang.Long.numberOfLeadingZeros((bands * nSub - 1).toLong)
    require(idBits + width + subW <= 63,
      s"packed key needs $idBits+$width+$subW bits; reduce bands or maxHamming")
    // residual of band b: the signature with b's slice bits compacted out
    val res = s"((simhash & (SHIFTLEFT(CAST(1 AS BIGINT), b * $width) - 1)) | " +
      s"SHIFTLEFT(SHIFTRIGHT(simhash, (b + 1) * $width), b * $width))"
    // the uniform subslice mask is safe: residual < 2^resWidth zero-fills
    // the top sub-slice
    s"""FLATTEN(TRANSFORM(SEQUENCE(0, ${bands - 1}), b ->
       |  TRANSFORM(SEQUENCE(0, ${nSub - 1}), k ->
       |    SHIFTLEFT(CAST(b * $nSub + k AS BIGINT), ${width + subW})
       |    | SHIFTLEFT(SHIFTRIGHT(simhash, b * $width) & $mask, $subW)
       |    | (SHIFTRIGHT($res, k * $subW) & ${(1L << subW) - 1}))))""".stripMargin
  }

  /** Exact n-gram Jaccard for candidate pairs (verification pass after
    * LSH), over native one-pass shingle hash sets.
    *
    * Shingle sets are built ONLY for documents that appear in a candidate
    * pair (a semi-join prune through the pair table) and materialized once
    * — LSH candidates cover a small fraction of any deduplicated corpus,
    * so this turns a corpus-wide hash-and-shuffle (the naive spelling
    * computed ngram_hash_set over ALL documents twice, and the planner
    * even chose to BROADCAST the corpus-sized set table at small sf — a
    * scale-killer shape at 100 TB) into two joins between pair-sized
    * tables. The pair table is localCheckpoint'd: it is referenced three
    * times (two id sides + the verify join), and candidates are
    * pair-table-sized by design. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
                   textCol: String, shingleN: Int = 3): DataFrame = {
    graft.functions.TajoFunctions.register(docs.sparkSession)
    val cands = pairs.localCheckpoint()
    val need = cands.select(col("d1").as(idCol))
      .union(cands.select(col("d2").as(idCol))).distinct()
    val sh = docs.join(need, Seq(idCol))
      .select(col(idCol), expr(s"ngram_hash_set($textCol, $shingleN)").as("s"))
      .localCheckpoint()
    cands
      .join(sh.select(col(idCol).as("d1"), col("s").as("s1")), "d1")
      .join(sh.select(col(idCol).as("d2"), col("s").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        // set semantics: s1/s2 are distinct, so hash-set ARRAY_INTERSECT/
        // ARRAY_UNION (O(n+m)) equal the O(n*m) FILTER/CONTAINS form
        expr("CAST(SIZE(ARRAY_INTERSECT(s1, s2)) AS DOUBLE) / SIZE(ARRAY_UNION(s1, s2))").as("jaccard"))
  }

  /** Incremental exact dedup: admit only the rows of a NEW batch that are
    * (a) not already in the seen-digest table of previously ingested
    * snapshots and (b) the keeper (min id) of their digest within the
    * batch itself. The standard "never train on the same document twice"
    * gate between crawl snapshots — the seen table carries 16-byte digests,
    * not text, so it stays small relative to the corpora it summarizes.
    * Returns (id, digest) of the admitted rows; union the result's digests
    * into the seen table to advance the snapshot. Near-dup incremental
    * dedup is the existing cross-corpus path: `decontaminate(newBatch,
    * seenSample, ...)` with the roles reversed.
    *
    * Scale: one partial+final aggregation on the digest inside the batch,
    * then one anti join against the seen table on the digest — both shuffle
    * on the same 16-byte key, and AQE broadcasts the smaller side when one
    * snapshot is much smaller than the other. No forced hints. */
  def incrementalExact(newDocs: DataFrame, seenDigests: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val batch = newDocs.select(col(idCol), md5(col(textCol)).as("digest"))
    val keepers = batch.groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
    keepers.join(seenDigests.select(col("digest")), Seq("digest"), "left_anti")
      .select(col(idCol), col("digest"))
  }

  /** Bloom-prefiltered incremental dedup — the 100 TB shape of
    * [[incrementalExact]], with identical (exact) results. The plain anti
    * join shuffles BOTH sides on the digest every batch; once the seen
    * table holds a trillion digests that is a multi-TB shuffle per
    * ingested crawl. This variant never shuffles the seen side at all:
    *
    *   1. one narrow pass over the seen table folds xxhash64(digest) into
    *      a Bloom sketch (Spark's own BloomFilterAggregate — per-partition
    *      partial sketches OR-merge at the final step, and only the
    *      numBits/8-byte sketch ever reaches the driver). In production
    *      the sketch is built once and reused for every subsequent batch;
    *   2. the batch's in-batch keepers probe the sketch map-side
    *      (codegen'd, no UDF; literal vs broadcast transport per the
    *      shared [[sketchProbe]] rule). Definite-new rows (the
    *      overwhelming majority when crawls have modest overlap) pass
    *      through with ZERO joins;
    *   3. only the might-contain candidates (true dups + fpp of the rest)
    *      are exactness-restored: the candidate digests broadcast to the
    *      seen table for a map-side LEFT SEMI (seen stays unshuffled),
    *      and the confirmed-dup set — at most candidate-sized — broadcasts
    *      back for the final anti join.
    *
    * The Bloom is a pure pre-filter: false positives are re-checked, false
    * negatives are impossible, so the admitted set is bit-identical to
    * [[incrementalExact]] (the driver oracle replays the exact semantics).
    * `expectedItems`/`fpp` size the sketch (optimal bit count from the
    * public sketch library); Spark caps sketch sizes via
    * spark.sql.optimizer.runtime.bloomFilter.max* confs — raise them when
    * sizing for billions of digests.
    *
    * Candidate-set broadcasts are bounded by |true dups| + fpp·|batch|,
    * both knowable in advance; nothing corpus-sized is ever collected. */
  /** One narrow pass over a digest table folds it into a serialized Bloom
    * sketch (numBits/8 bytes — the only thing that ever reaches the
    * driver). Build it ONCE when a snapshot closes and reuse it for every
    * subsequent [[incrementalBloom]] batch; rebuilding per batch works but
    * re-scans the seen table. */
  def buildDigestSketch(seenDigests: DataFrame,
                        expectedItems: Long = 1L << 20,
                        fpp: Double = 0.01): Array[Byte] = {
    graft.functions.TajoFunctions.register(seenDigests.sparkSession)
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    requireSketchWithinCaps(seenDigests.sparkSession, expectedItems, numBits)
    seenDigests
      .select(call_function("bloom_agg", xxhash64(col("digest")),
        lit(expectedItems), lit(numBits)).as("b"))
      .head.getAs[Array[Byte]](0)
  }

  def incrementalBloom(newDocs: DataFrame, seenDigests: DataFrame,
                       idCol: String, textCol: String,
                       expectedItems: Long = 1L << 20,
                       fpp: Double = 0.01): DataFrame =
    incrementalBloomWith(newDocs, seenDigests,
      buildDigestSketch(seenDigests, expectedItems, fpp), idCol, textCol)

  /** The per-batch half of [[incrementalBloom]], against a prebuilt (and
    * typically persisted) sketch from [[buildDigestSketch]]. Same sketch
    * transport rule as [[incrementalNearDupsBloom]]: plan literal under
    * `broadcastThresholdBytes`, torrent broadcast + codegen'd probe above
    * (a correctly sized sketch for billions of seen digests is GB-scale
    * and must not live in the plan — SCALING §10a). */
  def incrementalBloomWith(newDocs: DataFrame, seenDigests: DataFrame,
                           sketch: Array[Byte],
                           idCol: String, textCol: String,
                           broadcastThresholdBytes: Int = 4 << 20): DataFrame = {
    graft.functions.TajoFunctions.register(newDocs.sparkSession)
    val batch = newDocs.select(col(idCol), md5(col(textCol)).as("digest"))
    val keepers = batch.groupBy(col("digest")).agg(min(col(idCol)).as(idCol))
    val mightContain = sketchProbe(newDocs.sparkSession, sketch,
      xxhash64(col("digest")), broadcastThresholdBytes)
    val candidates = keepers.filter(mightContain).select(col("digest"))
    val confirmedDups = seenDigests.select(col("digest"))
      .join(broadcast(candidates), Seq("digest"), "left_semi")
      .distinct()
    keepers.join(broadcast(confirmedDups), Seq("digest"), "left_anti")
      .select(col(idCol), col("digest"))
  }

  /** Crawl snapshot diff: classify every document id across two corpus
    * snapshots as added / removed / modified / unchanged by comparing
    * content digests — the delta report that decides how much of an
    * incremental ingest actually needs to re-run (added+modified feed
    * [[incrementalExact]]; removed feeds tombstoning).
    *
    * Scale: both sides reduce to (id, 16-byte digest) projections at scan
    * speed, then ONE full-outer hash join on the id — no text ever
    * shuffles. Output is one row per id; aggregate it per status for the
    * report (the registered query does).
    *
    * Precondition: `idCol` must be UNIQUE within each snapshot. Duplicate
    * ids fan out through the full-outer join (an id with m old × n new
    * rows emits m·n status rows), multi-counting that document in the
    * report. Pre-aggregate to one digest per id (e.g. keep max ingest
    * timestamp) before calling if the source allows repeats. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    // presence is tracked by explicit flags, NOT digest nullability:
    // md5(NULL text) is NULL, and a null digest must read as "present with
    // null content" (modified/unchanged), never as absent
    val o = oldDocs.select(col(idCol).as("id"), md5(col(textCol)).as("__od"),
      lit(true).as("__oin"))
    val n = newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("__nd"),
      lit(true).as("__nin"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__oin").isNull, "added")
          .when(col("__nin").isNull, "removed")
          .when(col("__od") <=> col("__nd"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Paragraph-level dedup (MassiveText/RefinedWeb-style): exact-dedup at
    * sub-document granularity, then reassemble. A paragraph OCCURRENCE
    * survives iff it is the globally first occurrence of that exact
    * paragraph text, ordered by (doc id, position) — later repeats
    * (boilerplate headers, syndicated content, license blocks) are cut out
    * of their documents while the first copy stays. Documents reassemble
    * from their surviving paragraphs in original order; a document whose
    * every paragraph was seen earlier comes back with empty text and
    * kept_paras = 0 (callers drop or keep it by policy).
    *
    * Scale: one explode to paragraph rows, one hash shuffle on the
    * paragraph digest (the keep-first window partitions by md5, so the
    * shuffle key is 16 bytes regardless of paragraph length), and one
    * shuffle back on the doc id for reassembly. No self-join, no driver
    * state; boilerplate-heavy keys are AQE skew candidates only. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     sep: String = "\n\n",
                     carryCols: Seq[String] = Nil): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    // Single pass over the input: SPLIT always yields at least one element
    // (empty text -> [""]), so every doc appears in the explode and
    // total_paras is a COUNT inside the same per-doc aggregate — no second
    // evaluation of `docs` and no join back (which matters when the input
    // is itself an expensive pipeline, e.g. q_pipeline_curate's gated
    // subplan). NULL text coalesces to '' so those docs survive the
    // explode too (split(NULL) would yield no rows and silently drop the
    // doc) — they come back like all-duplicate docs: empty text, and
    // kept_paras counts their single empty paragraph by first-occurrence
    // like any other. `carryCols` are doc-level columns (functionally
    // dependent on the id) carried through the aggregate for the same
    // reason.
    val paras = docs
      .select(col(idCol) +: carryCols.map(col) :+
        posexplode(split(coalesce(col(textCol), lit("")), quoted))
          .as(Seq("pos", "p")): _*)
    val firstOcc = Window.partitionBy(md5(col("p"))).orderBy(col(idCol), col("pos"))
    val sepLit = sep.replace("\\", "\\\\").replace("'", "\\'")
    val aggs = Seq(
      count(lit(1)).cast("bigint").as("total_paras"),
      sum(when(col("__rn") === 1, 1L).otherwise(0L)).cast("bigint").as("kept_paras"),
      expr(s"""ARRAY_JOIN(TRANSFORM(ARRAY_SORT(
              |  COLLECT_LIST(CASE WHEN __rn = 1 THEN STRUCT(pos, p) END)),
              |  s -> s.p), '$sepLit')""".stripMargin).as("text")) ++
      carryCols.map(c => first(col(c)).as(c))
    paras.withColumn("__rn", row_number().over(firstOcc))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol) +: col("total_paras") +: col("kept_paras") +:
        col("text") +: carryCols.map(col): _*)
  }

  /** Decontamination: drop corpus documents whose n-gram Jaccard overlap
    * with ANY benchmark document reaches `thresholdPpm` (parts-per-million,
    * integer-exact). The cross-corpus variant of the dedup machinery:
    * both sides band their MinHash signatures, candidates come from the
    * band-bucket equi-join (never an all-pairs comparison), and only
    * candidates pay the exact-Jaccard verify. Returns the surviving corpus
    * rows. At 100 TB the benchmark side is tiny (eval sets), so its banded
    * rows broadcast; the corpus never shuffles more than its band keys. */
  def decontaminate(corpus: DataFrame, benchmarks: DataFrame, idCol: String,
                    textCol: String, thresholdPpm: Long = 800000L,
                    shingleN: Int = 3): DataFrame = {
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    def banded(df: DataFrame) =
      minhashBands(minhashSignature(df, idCol, textCol, shingleN = shingleN), idCol)
    val cands = banded(corpus).select(col(idCol).as("__cid"), col("band"), col("band_key"))
      .join(banded(benchmarks).select(col(idCol).as("__bid"), col("band"), col("band_key")),
        Seq("band", "band_key"))
      .select("__cid", "__bid").distinct()
    def shingleSets(df: DataFrame, as: String) =
      df.select(col(idCol).as(as), expr(s"ngram_hash_set($textCol, $shingleN)").as(s"__s_$as"))
    val contaminated = cands
      .join(shingleSets(corpus, "__cid"), "__cid")
      .join(shingleSets(benchmarks, "__bid"), "__bid")
      .filter(expr(
        s"""(1000000 * CAST(SIZE(ARRAY_INTERSECT(__s___cid, __s___bid)) AS BIGINT))
           |  DIV SIZE(ARRAY_UNION(__s___cid, __s___bid)) >= $thresholdPpm""".stripMargin))
      .select(col("__cid").as("__drop")).distinct()
    corpus.join(contaminated, corpus(idCol) === col("__drop"), "left_anti")
  }

  /** Strict exact-overlap decontamination: drop every corpus document that
    * shares at least one full word n-gram with any benchmark document (the
    * "any 13-gram overlap" rule used for pretraining-benchmark hygiene —
    * stricter than [[decontaminate]]'s Jaccard gate, which tolerates
    * incidental overlap). Benchmark n-grams explode into a distinct hash
    * set that stays benchmark-sized (benchmarks are fixed, corpora grow),
    * so the membership join broadcasts; the corpus side is a map-side
    * explode + semi join — the corpus never shuffles on itself. */
  def decontaminateExact(corpus: DataFrame, benchmarks: DataFrame, idCol: String,
                         textCol: String, n: Int = 3): DataFrame = {
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    // ngram_hash_set marks docs with fewer than n words with the poly31
    // hash of the "_" sentinel (95). A full n-gram can never be the bare
    // sentinel, so drop it from BOTH sides — otherwise any short benchmark
    // doc would match every short corpus doc despite sharing no real
    // n-gram, violating the "shares at least one full word n-gram" contract.
    val sentinel = 95L
    val benchGrams = benchmarks
      .select(explode(expr(s"ngram_hash_set($textCol, $n)")).as("__g"))
      .filter(col("__g") =!= sentinel).distinct()
    val contaminated = corpus
      .select(col(idCol), explode(expr(s"ngram_hash_set($textCol, $n)")).as("__g"))
      .filter(col("__g") =!= sentinel)
      .join(broadcast(benchGrams), "__g")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** ExactSubstr-style repeated-substring spans: find every maximal
    * character span whose length-`minLen` windows also occur elsewhere in
    * the corpus (the "drop long verbatim repeats" dedup from the
    * deduplicating-training-data line of work, expressed relationally
    * instead of via a suffix array).
    *
    * Shape: hash every length-`minLen` char window at `stride` in ONE
    * rolling pass per document (`window_hashes` — Rabin-Karp, O(chars)
    * regardless of minLen; the SUBSTRING+md5 spelling it replaced paid
    * O(chars * minLen), which is what kept the guaranteed-detection
    * stride-1 setting parked at sf0.01), keep hashes seen more than once
    * corpus-wide (one aggregation on the 8-byte hash — uniform keys, no
    * skew), then merge each document's surviving windows into maximal
    * spans with a gaps-and-islands window (new island when a window
    * starts past the previous reach). A repeated-window decision from
    * hash equality tolerates 64-bit collisions (birthday ~5e-4
    * corpus-wide at sf0.1 stride 1; note a collision between two UNRELATED
    * windows mints a false SINGLETON span in each document — it does not
    * need to land near a real span; `wide = true` below is the large-scale
    * mitigation) — the DuckDB oracle computes
    * the same spans from md5 windows, so a collision would fail the
    * correctness gate rather than pass silently. "Kept more than once" is
    * a COUNT(*) OVER (PARTITION BY hash) — one pass over the windows, so
    * the window-hash subplan (the dominant cost) is evaluated once; the
    * aggregate+self-join spelling of the same predicate evaluates it twice
    * and shuffles the window table a third time for the join (measured
    * 29.4s -> 6.8s at sf1, 3.1s -> ~1.3s at sf0.1 on the md5 path;
    * SCALING.md §7). WindowExec's spillable per-key buffer keeps a
    * pathologically repeated window (boilerplate seen millions of times)
    * from pinning memory. Cost is linear in
    * characters/stride — the same work ExactSubstr's suffix array pays,
    * but as two shuffles on derived keys with no driver-side state;
    * `stride > 1` trades span-boundary precision for proportionally less
    * work — and only detects repeats whose offsets differ by a multiple of
    * the stride (use stride 1 for guaranteed detection, the ExactSubstr
    * setting).
    *
    * `wide = true` keys each window on TWO independent rolling hashes
    * (128-bit pair; second base = splitmix64's golden-ratio constant) —
    * for corpora large enough that 64-bit birthday collisions matter
    * (~2-3% odds of one spurious pair at 1e9 stride-1 windows; each such
    * collision mints a false singleton span that gets SCRUBBED from
    * training text silently — see the window_hashes scaladoc). Two rolling
    * passes instead of one, same plan shape (the pair rides one struct
    * column through the same shuffles); identical spans at any scale where
    * 64 bits already sufficed (spec-pinned on the fixture). Returns one
    * row per (doc, span): span_start/span_end are 0-based char offsets,
    * end exclusive. */
  def repeatedSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                             minLen: Int = 50, stride: Int = 1,
                             wide: Boolean = false): DataFrame = {
    require(minLen > 0 && stride > 0, "minLen and stride must be positive")
    graft.functions.TajoFunctions.register(docs.sparkSession)
    val wins = windowStarts(docs, idCol, textCol, minLen, stride, wide)
    val flagged = wins
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("__h")))
      .filter(col("__cnt") > 1)
      .select(col(idCol), col("start"))
    mergeWindowSpans(flagged, idCol, minLen)
  }

  /** The SQL spelling of the window-hash key: a single rolling pass, or —
    * `wide` — the 128-bit two-base pair (both passes ride one struct
    * column; see [[repeatedSubstringSpans]]'s scaladoc for when 64 bits
    * stop being enough). */
  private def windowHashExpr(textCol: String, minLen: Int, stride: Int,
                             wide: Boolean): String =
    if (!wide) s"window_hashes($textCol, $minLen, $stride)"
    else s"arrays_zip(window_hashes($textCol, $minLen, $stride), " +
      s"window_hashes($textCol, $minLen, $stride, ${graft.functions.WindowHashes.SecondBase}L))"

  /** One row per length-`minLen` window at `stride`: (id, start char
    * offset, hash key). Docs shorter than one window contribute nothing. */
  private def windowStarts(docs: DataFrame, idCol: String, textCol: String,
                           minLen: Int, stride: Int, wide: Boolean): DataFrame =
    docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol),
        posexplode(expr(windowHashExpr(textCol, minLen, stride, wide)))
          .as(Seq("__i", "__h")))
      .select(col(idCol), (col("__i").cast("bigint") * stride).as("start"),
        col("__h"))

  /** Gaps-and-islands merge of flagged window starts into maximal spans
    * (new island when a window starts past the previous window's reach).
    * Shared by the within-corpus and cross-corpus span detectors so the
    * span semantics cannot drift between them. */
  private def mergeWindowSpans(flagged: DataFrame, idCol: String,
                               minLen: Int): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy("start")
    flagged
      .withColumn("__new",
        when(lag("start", 1).over(w).isNull, 1)
          .when(col("start") > lag("start", 1).over(w) + minLen, 1)
          .otherwise(0))
      .withColumn("__island", sum("__new").over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min("start").as("span_start"), (max("start") + minLen).as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start"))
      .drop("__island")
  }

  /** Cross-corpus substring decontamination: find every maximal character
    * span of a corpus document whose length-`minLen` windows occur
    * VERBATIM anywhere in the benchmark set — the span-granular sibling of
    * [[decontaminateExact]] (which drops whole documents on any word
    * n-gram overlap). Scrubbing spans instead of dropping documents is the
    * production-pipeline shape: a long document that quotes one eval
    * passage keeps everything but the quote (compose with [[removeSpans]]).
    *
    * Shape: the benchmark side rolls windows at stride 1 ALWAYS — corpus
    * and benchmark offsets are never mutually aligned, so benchmark-side
    * striding would silently miss overlaps; benchmarks are eval-set-sized
    * (fixed, small), so the stride-1 distinct hash set stays broadcastable
    * even when the corpus is 100 TB. The corpus side pays one rolling pass
    * at `stride` and a broadcast LEFT SEMI against that set — a map-side
    * prune with NO corpus shuffle at all (strictly cheaper than
    * [[repeatedSubstringSpans]], whose repeat test needs a corpus-wide
    * hash partition); only the surviving (contaminated) windows — rare by
    * construction — reach the per-document span merge. Detection
    * guarantee is one-sided: a shared region of length L is found iff a
    * corpus-side window at an offset multiple of `stride` fits inside it,
    * guaranteed when L >= minLen + stride - 1 (stride 1 = guaranteed at
    * exactly minLen, the ExactSubstr setting). 64-bit hash equality
    * tolerates collisions exactly as [[repeatedSubstringSpans]] documents
    * (a collision scrubs an innocent span); `wide` keys both sides on the
    * two-base 128-bit pair. Returns (id, span_start, span_end, span_len),
    * end exclusive, 0-based. */
  def contaminatedSpans(corpus: DataFrame, benchmarks: DataFrame,
                        idCol: String, textCol: String,
                        minLen: Int = 50, stride: Int = 1,
                        wide: Boolean = false): DataFrame = {
    require(minLen > 0 && stride > 0, "minLen and stride must be positive")
    graft.functions.TajoFunctions.register(corpus.sparkSession)
    val benchWins = benchmarks
      .filter(length(col(textCol)) >= minLen)
      .select(explode(expr(windowHashExpr(textCol, minLen, 1, wide))).as("__h"))
      .distinct()
    val flagged = windowStarts(corpus, idCol, textCol, minLen, stride, wide)
      .join(broadcast(benchWins), Seq("__h"), "left_semi")
      .select(col(idCol), col("start"))
    mergeWindowSpans(flagged, idCol, minLen)
  }

  /** Apply step of ExactSubstr dedup: cut the given character spans out of
    * each document's text (spans as produced by
    * [[repeatedSubstringSpans]] — non-overlapping, 0-based, end
    * exclusive). One groupBy to collect each doc's span list (spans per
    * doc are few by construction) and a single higher-order `aggregate`
    * expression that walks the sorted spans concatenating the kept
    * segments — native Catalyst, no UDF, no extra shuffle beyond the span
    * collection. Docs without spans pass through untouched. Adds
    * `scrubbed`; the original text column is preserved. */
  def removeSpans(docs: DataFrame, spans: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val perDoc = spans.groupBy(idCol).agg(
      collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("__spans"))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn("scrubbed",
        when(col("__spans").isNull, col(textCol)).otherwise(expr(
          s"""aggregate(
             |  array_sort(__spans),
             |  struct(CAST(0 AS BIGINT) AS pos, '' AS out),
             |  (acc, sp) -> struct(sp.e AS pos,
             |    concat(acc.out,
             |      substring($textCol, CAST(acc.pos AS INT) + 1,
             |                CAST(sp.s - acc.pos AS INT))) AS out),
             |  acc -> concat(acc.out,
             |    substring($textCol, CAST(acc.pos AS INT) + 1,
             |              length($textCol) - CAST(acc.pos AS INT)))
             |)""".stripMargin)))
      .drop("__spans")
  }

  /** Embedding cosine near-duplicates within buckets (bucketCol prunes the
    * pair space; pass a constant column for exhaustive mode). */
  def embeddingNearDups(vectors: DataFrame, idCol: String, vecCol: String,
                        bucketCol: String, threshold: Double): DataFrame = {
    graft.functions.TajoFunctions.register(vectors.sparkSession)
    val v = vectors.select(col(idCol), col(bucketCol).as("__bucket"), col(vecCol).as("__vec"))
      .withColumn("__nrm", expr(s"SQRT(${HashSpec.dotNative("__vec", "__vec")})"))
    val a = v.select(col(idCol).as("v1"), col("__bucket"), col("__vec").as("va"), col("__nrm").as("na"))
    val b = v.select(col(idCol).as("v2"), col("__bucket"), col("__vec").as("vb"), col("__nrm").as("nb"))
    a.join(b, Seq("__bucket")).filter(col("v1") < col("v2"))
      .withColumn("cos_sim", expr(s"${HashSpec.dotNative("va", "vb")} / (na * nb)"))
      .filter(col("cos_sim") > threshold)
      .select("v1", "v2", "cos_sim")
  }
}
