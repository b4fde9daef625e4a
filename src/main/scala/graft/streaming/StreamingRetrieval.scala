package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Retrieval

/** Continuous document ingest against a PERSISTED BM25 index — the
  * retrieval sibling of [[StreamingAnn.indexedAnnStream]] and
  * [[StreamingDedup.indexedNearDupStream]]: each micro-batch of (id, text)
  * rows folds into the stored index ([[Retrieval.appendBm25Index]]), and a
  * FIXED query-term set is then re-scored against the updated index,
  * appending (n_docs_at, id, score_ppm) to a parquet sink — the
  * standing-query shape (alerting, routing, freshness-ranked retrieval)
  * where the answer must track the corpus as it grows. The state is the
  * durable index itself: arbitrarily large, restart-safe, shared with
  * batch jobs — foreachBatch for the same reason as the other two loops.
  *
  * `n_docs_at` marks which index version produced each row: the doclens
  * row count AFTER the batch's fold (read from the store manifest, no
  * job) — deterministic for an mtime-ordered file stream, monotone across
  * triggers, and exactly reproducible by a batch replay over the same
  * prefix of batches (the DuckDB oracle recomputes both steps from
  * scratch). Scores for the SAME document legitimately differ across
  * versions (df/avgdl move as the corpus grows), which is why the version
  * column — not the score — partitions the sink.
  *
  * Delivery: foreachBatch is at-least-once. The fold is one store commit
  * of both tables that anti-joins committed docs out on doclens, so a
  * replayed trigger — after a committed fold or a crashed one — appends
  * exactly what is missing (nothing, for a committed one) and re-emits
  * exactly the original score rows; consumers dedupe the sink on
  * (n_docs_at, id). Unique ids across the corpus and every batch; not
  * concurrent-safe with an external compaction (quiesce writers, as
  * everywhere). */
object StreamingRetrieval {

  def indexedBm25Stream(docs: DataFrame, indexDir: String, scoresDir: String,
                        queryTerms: Seq[String], idCol: String = "doc_id",
                        textCol: String = "text", topK: Int = 20)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        indexedBm25Batch(batch.toDF(), indexDir, scoresDir, queryTerms,
          idCol, textCol, topK)
      }
      .start()

  /** The per-micro-batch body of [[indexedBm25Stream]], exposed (like the
    * other loops') so the replay contract is directly testable: a second
    * invocation with an already-folded batch must append NO index rows and
    * emit duplicate rows of the original scores. */
  def indexedBm25Batch(batch: DataFrame, indexDir: String, scoresDir: String,
                       queryTerms: Seq[String], idCol: String = "doc_id",
                       textCol: String = "text", topK: Int = 20): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the append materializes its novel rows once, so the batch itself is
    // read exactly once
    val updated = Retrieval.appendBm25Index(batch.select(col(idCol), col(textCol)),
      idCol, textCol, indexDir)
    Retrieval.queryBm25Index(updated, queryTerms.toDF("term"), idCol, topK = topK)
      .withColumn("n_docs_at", lit(updated.nDocs))
      .select(col("n_docs_at"), col(idCol), col("score_ppm"))
      .write.mode("append").parquet(scoresDir)
  }
}
