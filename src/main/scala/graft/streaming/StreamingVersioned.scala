package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.operators.VersionedStore

/** Continuous ingest into a [[graft.operators.VersionedStore]] — the
  * versioned-corpus sibling of the indexed dedup/ANN/BM25/agg-state
  * loops: each micro-batch commits as ONE new version, so a reader
  * between any two triggers pins a consistent snapshot of everything
  * committed so far, an incremental consumer feeds off
  * [[VersionedStore.diff]] between its checkpoint version and the
  * latest, and the full ingest history stays time-travelable until
  * vacuumed.
  *
  * Delivery: foreachBatch is at-least-once; the batch tag derives from
  * the trigger's batchId and goes through [[VersionedStore.appendOnce]],
  * whose manifest TAG ledger (a field of its own — free-form notes can
  * never match it) makes a replayed trigger a no-op — the same
  * replay-exactness as the agg-state loop, with the version history
  * playing the role of its `tags` table. Two consequences, stated plainly:
  * a durable checkpoint is REQUIRED (a temporary checkpoint reissues
  * batchId 0 for brand-new data after a restart and the tag-ledger check
  * would silently discard it — the exact failure mode the agg-state
  * loop pins by observation), and [[VersionedStore.vacuum]] between
  * triggers must keep at least the replay horizon of manifests
  * (keepLast >= 2 covers Spark's one-uncommitted-trigger replay). Use a
  * distinct `tagPrefix` per logical stream when several streams ingest
  * into one store — two streams sharing a prefix share one batchId tag
  * space and discard each other's batches. */
object StreamingVersioned {

  def versionedIngestStream(rows: DataFrame, storeDir: String,
                            table: String, checkpointDir: String,
                            tagPrefix: String = "t")
    : org.apache.spark.sql.streaming.StreamingQuery = {
    require(checkpointDir.nonEmpty,
      "versionedIngestStream: a durable checkpoint location is required — " +
        "batchId-derived tags are only replay-safe when batchIds survive " +
        "a restart (a temporary checkpoint would reissue batchId 0 for " +
        "new data and the tag ledger would silently discard it)")
    rows.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        versionedIngestBatch(batch.toDF(), storeDir, table,
          s"${tagPrefix}_$batchId")
        ()
      }
      .start()
  }

  /** The per-micro-batch body, exposed (like the other loops') so the
    * replay contract is directly testable: a second invocation with the
    * same tag must commit nothing and leave the version history
    * unchanged. */
  def versionedIngestBatch(batch: DataFrame, storeDir: String, table: String,
                           batchTag: String): Long =
    VersionedStore.appendOnce(batch.sparkSession, storeDir,
      Map(table -> batch), batchTag)
}
