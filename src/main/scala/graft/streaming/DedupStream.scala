package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ext.Dedup
import graft.lake.LakeTable

/** Dedup-on-ingest: a streaming corpus pipeline where every micro-batch
  * exact-dedups against the persisted fingerprint index (cross-batch corpus
  * memory, see [[graft.ext.Dedup.incrementalDedup]]) before survivors land
  * in the target table — the streaming composition of the incremental-dedup
  * primitive (SURVEY §2.9 file-stream ingest × the dedup family).
  *
  * Exactly-once under micro-batch replays, by ORDER of commits:
  * survivors upsert into `target` FIRST (guarded by the batch-id txn, so a
  * replay after the target commit is a no-op), the index absorbs them
  * SECOND. A crash between the two replays the batch: the index still
  * lacks the survivors, so they recompute identically, the txn guard skips
  * the duplicate target write, and the index catches up. The reverse order
  * would LOSE data — an index-first replay would see its own fingerprints
  * and drop the batch before the target ever saw it.
  *
  * The index absorbs the survivors through its insert-if-absent write
  * ([[graft.lake.LakeTable.insertAbsent]]): they were just probed absent,
  * so the write re-probes one snapshot and inserts, with no touched-file
  * detection; a fingerprint another writer indexed meanwhile keeps its
  * stored id.
  *
  * Scale shape: per batch, cost ∝ batch + its pruned candidate index files
  * (never index size); state lives in two graft tables, not in streaming
  * state — restartable from any checkpoint. */
object DedupStream {

  def ingest(spark: SparkSession, source: String, schema: StructType,
      index: LakeTable, target: LakeTable, checkpoint: String,
      textCol: String = "text", idCol: String = "doc_id",
      continuous: Boolean = false): Unit = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "4")
      .parquet(source)
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(if (continuous) Trigger.ProcessingTime("5 seconds") else Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val survivors = Dedup.incrementalDedup(index, batch,
              textCol, idCol, commit = false)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            if (!survivors.isEmpty) {
              target.upsert(survivors.drop("fingerprint"),
                txn = Some(("graft-dedup-ingest", batchId)))
              index.insertAbsent(survivors.select(
                col("fingerprint").as(index.spec.key),
                col(idCol).cast("long").as(index.spec.precombine)))
              ()
            }
          } finally {
            survivors.unpersist(blocking = false)
            ()
          }
        }
        ()
      }
      .start()
    if (!continuous) q.awaitTermination()
  }
}
