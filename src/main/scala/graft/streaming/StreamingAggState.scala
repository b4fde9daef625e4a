package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.operators.AggState

/** Continuous ingest into a persisted aggregate state — the OLAP sibling
  * of the indexed dedup/ANN/BM25 loops ([[graft.operators.AggState]]):
  * each micro-batch folds its batch-sized partial rows into the stored
  * state, so a dashboard read between any two triggers is exact over
  * every committed batch without ever rescanning the fact table.
  *
  * Delivery: foreachBatch is at-least-once, and this loop is where the
  * AggState replay contract earns its keep with NO extra guard code: the
  * batch tag derives from the trigger's batchId, and a fold commits its
  * rows and its tag together, so a replayed trigger either no-ops on the
  * tag check (fold committed) or folds for the first time (the earlier
  * attempt crashed before its commit and left nothing visible) — exact
  * either way. The tag-from-batchId scheme is
  * only sound when batchIds are DURABLE across restarts, so this loop
  * REQUIRES an explicit checkpoint location: with Spark's throwaway
  * temporary checkpoint, a restarted stream would reissue batchId 0 for
  * brand-new data and the tag check would silently discard it as a
  * replay — the one failure mode worse than double-counting. Use a fresh
  * `tagPrefix` per logical stream when several streams fold into one
  * state. Not concurrent-safe with an external compaction (quiesce, as
  * everywhere); run [[AggState.compactAggState]] between triggers or
  * while the stream is stopped. */
object StreamingAggState {

  def aggStateStream(rows: DataFrame, stateDir: String,
                     groupCols: Seq[String], valueCols: Seq[String],
                     checkpointDir: String,
                     tagPrefix: String = "t")
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(checkpointDir.nonEmpty,
      "aggStateStream: a durable checkpoint location is required — " +
        "batchId-derived tags are only replay-safe when batchIds survive " +
        "a restart (a temporary checkpoint would reissue batchId 0 for " +
        "new data and the tag check would silently discard it)")
    rows.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        aggStateBatch(batch.toDF(), stateDir, groupCols, valueCols,
          s"${tagPrefix}_$batchId")
      }
      .start()
  }

  /** The per-micro-batch body, exposed (like the other loops') so the
    * replay contract is directly testable: a second invocation with the
    * same tag must leave the merged read bit-identical. */
  def aggStateBatch(batch: DataFrame, stateDir: String, groupCols: Seq[String],
                    valueCols: Seq[String], batchTag: String): Unit =
    AggState.foldAggState(batch, stateDir, batchTag, groupCols, valueCols)
}
