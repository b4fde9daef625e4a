package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Continuous vector ingest against a PERSISTED residual IVF-PQ index —
  * the ANN sibling of [[StreamingDedup.indexedNearDupStream]]: each
  * micro-batch of (id, embedding) rows SEARCHES the index as of the batch
  * start (every arrival immediately learns its nearest already-ingested
  * neighbors — ADC-only, so no raw-vector corpus table is needed in the
  * loop), appends its matches to a parquet sink, and then folds into the
  * index via the frozen-quantizer add path
  * ([[Similarity.appendIvfPqResidualIndex]]) so the NEXT batch searches
  * against it too. foreachBatch is the right vehicle for the same reason
  * as the dedup loop: the state IS the durable index — arbitrarily large,
  * restart-safe, shared with batch jobs.
  *
  * Contract mirrors the dedup loop: matches are batch-vs-everything-
  * already-ingested; matches BETWEEN two documents of the same micro-batch
  * are out of scope (run a batch ANN pass over the batch if needed), which
  * makes the sink the exact sequential composition of
  * [[Similarity.queryIvfPqResidual]] steps (spec- and oracle-pinned).
  *
  * Delivery: foreachBatch is at-least-once, and the ANN index is the one
  * place a blind replay CORRUPTS state rather than duplicating it —
  * duplicate code rows double summed ADC distances
  * ([[Similarity.appendIvfPqResidualIndex]]'s exactly-once contract). The
  * loop therefore makes the append idempotent itself: batch rows whose id
  * already has code rows are anti-joined out before appending (an
  * id-column scan of the codes table, the same order of work as the ADC
  * join the search half already pays), and the search side anti-joins out
  * neighbors that are in the current batch (on a replay the crashed
  * attempt's append has already folded the batch in, and without the
  * guard the rerun would emit within-batch matches the clean run never
  * produces). A replay thus appends nothing and emits exactly the
  * original match rows; consumers dedupe the sink on
  * (query_id, neighbor_id). Unique ids across the corpus and every batch
  * (the standard index contract). Not concurrent-safe with an external
  * compaction (quiesce writers, as everywhere). */
object StreamingAnn {

  def indexedAnnStream(vectors: DataFrame, indexDir: String, matchesDir: String,
                       k: Int = 5, dim: Int = 64, m: Int = 8, nProbe: Int = 4)
    : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        indexedAnnBatch(batch.toDF(), indexDir, matchesDir, k, dim, m, nProbe)
      }
      .start()

  /** The per-micro-batch body of [[indexedAnnStream]], exposed (like the
    * dedup loops') so the replay contract is directly testable: a second
    * invocation with an already-applied batch must append NO code rows
    * and emit only duplicate rows of the original matches. */
  def indexedAnnBatch(batch: DataFrame, indexDir: String, matchesDir: String,
                      k: Int = 5, dim: Int = 64, m: Int = 8,
                      nProbe: Int = 4): Unit = {
    val spark = batch.sparkSession
    val idx = Similarity.IvfPqResidualIndex.read(spark, indexDir)
    idx.requireGeometry(dim, m)
    // one evaluation feeds search and append — and the idempotence
    // anti-joins below must see a consistent batch
    val b = batch.select(col("vec_id"), col("embedding")).localCheckpoint()
    // the search half and the fold half are INDEPENDENT given `b` and the
    // as-of-batch-start index read above, so they run as two concurrent
    // jobs (guide §2.6) instead of serializing a trigger's two heaviest
    // actions: every frame of the search plan was listed by the `idx` read
    // BEFORE the fold appends files (appends only ADD part files, so the
    // pinned listing still reads exactly the batch-start index), and the
    // crash shape concurrency can produce — append folded, matches not yet
    // written — is the documented at-least-once replay case the guards
    // below already handle (the replay appends nothing and re-emits the
    // original rows).
    // written on a pool thread, read here in the finally
    @volatile var novel: DataFrame = null
    try {
      graft.operators.Jobs.concurrently(
        () =>
          // search the index AS OF THE BATCH START (ADC-only: rerank = 0, so
          // the raw-vector corpus argument never enters the plan — pass the
          // batch itself as the unused placeholder)
          Similarity.queryIvfPqResidual(idx, b, b, "vec_id", "embedding",
              k = k, dim = dim, m = m, nProbe = nProbe, rerank = 0)
            // replay guard: neighbors in the CURRENT batch can only appear when
            // a crashed attempt already appended it — a no-op on a clean run
            .join(b.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"), "left_anti")
            .select("query_id", "neighbor_id", "cell", "l2_micro", "rnk")
            .write.mode("append").parquet(matchesDir),
        () => {
          // idempotent append: drop rows whose id is already coded (a replayed
          // trigger) — this is what keeps duplicate code rows (which would
          // DOUBLE summed ADC distances) out of the index under at-least-once
          novel = b.join(idx.codes.select(col("__cid").as("vec_id")).distinct(),
            Seq("vec_id"), "left_anti").localCheckpoint()
          if (!novel.isEmpty)
            Similarity.appendIvfPqResidualIndex(novel, "vec_id", "embedding",
              indexDir, dim, m)
        })
    } finally {
      // trigger complete — release the per-trigger blocks (unbounded in a
      // long-lived stream otherwise; VERDICT r12 #1)
      if (novel != null) graft.operators.Checkpoints.free(b, novel)
      else graft.operators.Checkpoints.free(b)
    }
    ()
  }
}
