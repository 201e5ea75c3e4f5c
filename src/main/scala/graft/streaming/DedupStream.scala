package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession}

import graft.sources.DedupLayout

/** Streaming ingest into the incremental near-dup index: crawled
  * documents ARRIVE as a stream and each micro-batch grows the on-disk
  * [[DedupLayout]] stores (shingles, bands, candidate pairs) — the
  * ingestion shape of the dedup family, closing batch/stream parity
  * for the index the way [[VectorStream]] closes it for ANN retrieval.
  *
  * Exactly-once: every store write is a dynamic overwrite of the
  * micro-batch's OWN `__batch_id` partition, and the batch's pair
  * mining joins only the strictly-earlier batch PREFIX of the band
  * store — the state as of its first attempt — so a redelivered batch
  * (foreachBatch is at-least-once), or a full replay from a wiped
  * checkpoint running while later partitions still exist, rewrites
  * byte-identical files and the index reconverges (DedupStreamSpec
  * proves drain parity and replay idempotence, duplicate-count
  * included).
  *
  * Cluster labels are a DERIVED artifact: refresh them after a drain
  * (or on a schedule) via [[DedupLayout.refreshLabels]] —
  * [[graft.StoreMaintain]] is the scheduled job that runs it, then
  * folds this stream's accreted batch partitions
  * ([[DedupLayout.compact]]). The refresh reads the labels'
  * covered-batch watermark, maps every pair batch after it through the
  * stored labels and solves only that label graph, so the call needs
  * no delta from the stream and never rescans the whole pair store.
  * Per-batch label refresh would serialize the fixpoint into the hot
  * ingest path for no freshness a curator needs.
  */
object DedupStream {

  /** File-source schema of arriving documents. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  def read(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  def ingestSink(docs: DataFrame, root: String,
                 checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        DedupLayout.append(batch.sparkSession, batch, root, batchId)
        ()
      }
      .start()
}
