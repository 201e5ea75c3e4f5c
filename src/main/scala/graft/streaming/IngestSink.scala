package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The one streaming ingest sink of the incremental store families
  * ([[graft.Families.registry]]): a file-source stream whose every
  * micro-batch is handed to the family's `append` with its batch id.
  * The sink adds no semantics of its own; exactly-once comes from the
  * append, which dynamic-overwrites the micro-batch's own `__batch_id`
  * partitions (see [[graft.sources.DocumentLog.append]] and
  * [[graft.sources.VectorLayout.append]]), so a redelivered batch
  * (foreachBatch is at-least-once) or a replay from a wiped checkpoint
  * rewrites byte-identical files. DedupStreamSpec, TextStreamSpec and
  * SubstrLayoutSpec prove drain parity and count-checked replay
  * idempotence per family.
  */
object IngestSink {

  /** File-source schema of arriving documents. */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  def read(spark: SparkSession, dir: String, schema: StructType = DocSchema,
           maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Start `rows`' stream, appending each micro-batch through
    * `append(session, batch, batchId)`.
    */
  def start(rows: DataFrame, checkpoint: String)(
      append: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch.sparkSession, batch, batchId)
      }
      .start()
}
