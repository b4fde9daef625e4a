package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted BM25 retrieval index — the lexical third sibling of the two
  * stored-index families (the MinHash near-dup index in [[Dedup]] and the
  * residual IVF-PQ vector index in [[Similarity]]): tokenize and aggregate
  * the corpus ONCE into parquet postings, then serve every future query
  * from the stored tables with ZERO corpus-text scans. The reference ships
  * BST index scans over stored tables for exactly this rescan-avoidance
  * reason (`/root/reference/tajo-core/src/main/java/org/apache/tajo/
  * worker/TaskAttemptContext.java` drives index scans instead of seq
  * scans); this is the retrieval-shaped version of that idea, Spark-first.
  *
  * Stored layout: `dir/` is a [[VersionedStore]] with two tables, plus a
  * tokenizer tag beside it:
  *   - `postings` — (idCol, term, tf): one row per (term, document), the
  *     classic inverted file. Built and compacted term-partitioned and
  *     term-sorted so a query-term probe prunes row groups by parquet
  *     min/max — at 100 TB a 3-term query touches 3 terms' worth of row
  *     groups, not the table.
  *   - `doclens`  — (idCol, dl): one row per document; supplies the BM25
  *     length normalization and (via one index-sized aggregate per query)
  *     the corpus totals n_docs/avgdl. Recomputing totals from the stored
  *     table per query means a cached total can never drift from the
  *     table it summarizes; the document count alone is also in the
  *     manifest (`Bm25Index.nDocs`, no job).
  *   - `_meta.json` — the tokenizer tag ([[Bm25Meta]]); reads and writes
  *     validate it, so an index built under one tokenization can never be
  *     silently queried or appended under another (the same fail-loudly
  *     discipline as [[Dedup.MinhashMeta]] / `IvfPqMeta`).
  *
  * Every mutation — build, append, compaction — is ONE store commit that
  * changes both tables at once, so postings and doclens always come from
  * the same version and no reader sees one table's change without the
  * other's. A crashed writer leaves only what any
  * store writer leaves (an orphan segment, a `.tmp-` manifest): invisible
  * to every read, reported by [[IndexFsck.checkBm25]], reclaimed by
  * [[IndexRepair.repairBm25Index]] (a vacuum).
  *
  * Scale: the postings table is token-granular — the one corpus-sized
  * artifact — but the QUERY path never scans it fully (term pruning) and
  * never touches corpus text at all; `doclens` is document-granular.
  * Appends are batch-sized; compaction is an index-sized rewrite. Writers
  * are single-writer under the store's lease, like every family.
  */
object Retrieval {

  /** The one tokenizer this index version supports: split on a single
    * space, empty tokens kept — byte-identical to [[TextAnalysis.bm25Lite]]
    * and to the DuckDB `string_split(text, ' ')` oracle spelling. */
  val TokenizerWs1 = "ws1"

  /** Build parameters of a persisted [[Bm25Index]], stamped into
    * `dir/_meta.json`. Postings carry no tokenization tag per-row, so
    * appending batches tokenized differently than the stored corpus would
    * silently mix incompatible term statistics — the quiet-failure mode
    * this tag turns into a loud error. */
  final case class Bm25Meta(tokenizer: String)

  object Bm25Meta {
    def write(spark: SparkSession, dir: String, m: Bm25Meta): Unit =
      IndexFiles.writeFileSwap(spark, dir, "_meta.json",
        s"""{"tokenizer":"${m.tokenizer}"}""".getBytes("UTF-8"))

    def read(spark: SparkSession, dir: String): Bm25Meta = {
      val bytes = IndexFiles.readFileWithRecovery(spark, dir, "_meta.json")
        .getOrElse(throw new IllegalArgumentException(
          s"Bm25Index: no _meta.json at $dir — not a BM25 index directory"))
      val j = org.json4s.jackson.JsonMethods.parse(new String(bytes, "UTF-8"))
      (j \ "tokenizer") match {
        case org.json4s.JString(v) => Bm25Meta(v)
        case other => throw new IllegalArgumentException(
          s"malformed Bm25Index meta at $dir/_meta.json: field tokenizer = $other")
      }
    }
  }

  /** A persisted BM25 index handle: the postings and doc-length tables of
    * ONE store version, the stored tokenizer tag, and that version's
    * document count (the doclens row count from the manifest). Obtain via
    * [[Bm25Index.read]] or the write/append/compact entry points. */
  final case class Bm25Index(postings: DataFrame, doclens: DataFrame,
                             meta: Bm25Meta, nDocs: Long) {
    /** Fail loudly when the stored tokenizer disagrees with the caller's. */
    def requireTokenizer(tokenizer: String): Unit =
      require(meta.tokenizer == tokenizer,
        s"Bm25Index tokenizer mismatch: stored '${meta.tokenizer}', passed " +
          s"'$tokenizer' — querying or appending under a different " +
          "tokenization silently mixes incompatible term statistics")
  }

  object Bm25Index {
    /** Read the latest committed version. */
    def read(spark: SparkSession, dir: String): Bm25Index = {
      val snap = VersionedStore.snapshot(spark, dir)
      Bm25Index(snap.table("postings"), snap.table("doclens"),
        Bm25Meta.read(spark, dir), snap.rowCount("doclens"))
    }
  }

  private def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))

  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))

  private def doclensOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokens(docs, idCol, textCol)
      .groupBy(col(idCol)).agg(count(lit(1)).as("dl"))

  // the query-serving layout: hash-distributed across `termShards` by
  // term, term-sorted within each shard, so every parquet row group spans
  // a contiguous term range that a query-term probe skips by min/max
  private def termSharded(postings: DataFrame, termShards: Int): DataFrame =
    postings.repartition(termShards, col("term")).sortWithinPartitions("term")

  /** Build AND persist the BM25 index: one corpus tokenize feeds both
    * aggregations (two corpus scans total — postings and doclens are
    * independent aggregates of the same explode; at build-once scale the
    * second scan beats staging the exploded token table, which is larger
    * than the corpus itself). Postings are written term-sharded and
    * sorted. Stamps `_meta.json`, then commits both tables as version 1 of
    * a fresh store — or, into a directory that already holds one, as ONE
    * rewrite of both tables (a rebuild in place). Returns the index.
    *
    * PRECONDITION: corpus ids unique (same contract as the other index
    * families — duplicate ids fuse their postings into one merged
    * pseudo-document irreversibly). */
  def writeBm25Index(corpus: DataFrame, idCol: String, textCol: String,
                     dir: String, termShards: Int = 32): Bm25Index = {
    require(termShards >= 1, s"termShards must be >= 1, got $termShards")
    val spark = corpus.sparkSession
    val tables = Map(
      "postings" -> termSharded(postingsOf(corpus, idCol, textCol), termShards),
      "doclens" -> doclensOf(corpus, idCol, textCol))
    IndexFiles.withWriteLease(spark, dir, "writeBm25Index") {
      // the tag lands BEFORE the commit: a crash in between leaves either
      // no version (reads fail loudly) or the previous build under the
      // same tag
      Bm25Meta.write(spark, dir, Bm25Meta(TokenizerWs1))
      VersionedStore.build(spark, dir, tables, "writeBm25Index")
      VersionedStore.reclaim(spark, dir)
    }
    Bm25Index.read(spark, dir)
  }

  /** Score documents for `queryTerms` from the STORED tables only — the
    * serve half of the build/serve split. Bit-identical to running
    * [[TextAnalysis.bm25Lite]] over the indexed corpus (both spellings end
    * in the one shared scoring chain, [[TextAnalysis.bm25ScoreParts]]);
    * spec-pinned, and the driver oracle replays the full corpus-side
    * chain, so a stale index hash-fails rather than drifting.
    *
    * Scale shape: query terms broadcast against the postings table — an
    * equi-join the term-sorted layout serves by row-group skip, never a
    * full postings scan — plus one aggregate over `doclens` for the corpus
    * totals and the final per-document sum; top-k plans as
    * TakeOrderedAndProject. ZERO corpus-text reads (scan-budget-pinned). */
  def queryBm25Index(index: Bm25Index, queryTerms: DataFrame,
                     idCol: String = "doc_id", k1Ppm: Long = 1200000L,
                     bPpm: Long = 750000L, topK: Int = 20): DataFrame = {
    index.requireTokenizer(TokenizerWs1)
    val tf = index.postings.join(broadcast(queryTerms), Seq("term"))
      .select(col(idCol), col("term"), col("tf"))
    TextAnalysis.bm25ScoreParts(tf, index.doclens, idCol, k1Ppm, bPpm, topK)
  }

  /** Fold NEW documents into a stored index without touching the indexed
    * corpus — the batch-sized add path between rebuilds (LSM-style, like
    * [[Dedup.appendMinhashIndex]] / [[Similarity.appendIvfPqResidualIndex]]).
    * BM25 semantics after an append are exactly "the batch was present at
    * build time": term statistics (tf, df, dl, totals) are pure
    * per-(term, doc) / per-doc aggregates, so unlike the vector index
    * there are no frozen quantizers and no drift — an appended index
    * scores identically to a rebuilt one (spec-pinned).
    *
    * Already-indexed ids are anti-joined out against `doclens`, and the
    * batch's postings and doclens rows land in ONE store append, so the
    * two tables always agree: a crash before the commit leaves the index
    * exactly as it was (plus an invisible orphan segment), and a re-run —
    * of a crashed append or of a COMMITTED one (an at-least-once
    * scheduler replay) — appends exactly the documents not yet committed.
    * A fully-replayed batch writes nothing at all.
    *
    * PRECONDITION: ids unique across the corpus and every batch. */
  def appendBm25Index(batch: DataFrame, idCol: String, textCol: String,
                      dir: String): Bm25Index = {
    val spark = batch.sparkSession
    // ONE lease from the presence check through the commit: two racing
    // appends of the same batch could otherwise both compute `novel`
    // against the pre-write snapshot and double-append
    IndexFiles.withWriteLease(spark, dir, "appendBm25Index") {
      val stored = Bm25Index.read(spark, dir)
      stored.requireTokenizer(TokenizerWs1)
      // localCheckpoint: the postings and doclens segments MUST see the
      // same novel set — two independent evaluations of a non-deterministic
      // batch plan could commit a doclens row for a document whose postings
      // differ, silently mis-scoring it forever
      val novel = batch.join(
        stored.doclens.select(col(idCol)), Seq(idCol), "left_anti")
        .localCheckpoint()
      try {
        if (novel.isEmpty) stored
        else {
          VersionedStore.append(spark, dir, Map(
            "postings" -> postingsOf(novel, idCol, textCol),
            "doclens" -> doclensOf(novel, idCol, textCol)),
            note = "appendBm25Index")
          Bm25Index.read(spark, dir)
        }
      } finally Checkpoints.free(novel) // committed (or nothing to commit)
    }
  }

  /** Compact a stored index: drop tombstoned documents (deleted from the
    * corpus — a doc's doclens row keeps it scoring AND in df/avgdl, so
    * deletion here is correctness, not just hygiene) and merge the
    * appended small segments back into the term-sharded sorted layout,
    * restoring the row-group skip that makes query-term probes cheap. ONE
    * store rewrite of both tables, then the superseded segments are
    * reclaimed; `_meta.json` is untouched. Dropping every document is
    * refused (the store refuses an empty table). */
  def compactBm25Index(spark: SparkSession, dir: String,
                       dropIds: Option[DataFrame] = None,
                       idCol: String = "doc_id",
                       termShards: Int = 32): Bm25Index = {
    require(termShards >= 1, s"termShards must be >= 1, got $termShards")
    def live(df: DataFrame): DataFrame =
      dropIds.fold(df)(ids => df.join(ids.select(col(idCol)), Seq(idCol), "left_anti"))
    IndexFiles.withWriteLease(spark, dir, "compactBm25Index") {
      VersionedStore.rewrite(spark, dir, note = "compactBm25Index") { cur =>
        Map("doclens" -> live(cur("doclens")),
          "postings" -> termSharded(live(cur("postings")), termShards))
      }
      VersionedStore.reclaim(spark, dir)
    }
    Bm25Index.read(spark, dir)
  }
}
