package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.DedupLayout
import graft.streaming.IngestSink

/** Streaming ingest into the near-dup index: micro-batched arrivals
  * must grow the stores to EXACTLY the batch-built index, a
  * redelivered batch must change nothing, and a full replay from a
  * wiped checkpoint must reconverge — pair-count included (a
  * duplicate-appending replay would pass a set compare and still
  * double the store).
  */
class DedupStreamSpec extends SparkSpec {

  private def writeOneFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-ds-part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  private def pairRows(root: String): Seq[(Long, Long)] =
    DedupLayout.pairs(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("streamed arrivals grow the index to batch parity; replay is idempotent") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 5
    val inc = Files.createTempDirectory("graft-ds-inc").toString
    val scratch = Files.createTempDirectory("graft-ds-full").toString
    val qdir = Files.createTempDirectory("graft-ds-q")

    DedupLayout.materialize(spark, docs.filter(m < 3), inc)
    // two arrival files → two micro-batches (maxFilesPerTrigger=1)
    writeOneFile(docs.filter(m === 3), qdir, "arrivals1.parquet")
    writeOneFile(docs.filter(m === 4), qdir, "arrivals2.parquet")

    def drain(checkpoint: String): Unit = {
      val q = IngestSink.start(IngestSink.read(spark, qdir.toString), checkpoint)(
        DedupLayout.append(_, _, inc, _))
      try q.processAllAvailable() finally q.stop()
    }
    drain(Files.createTempDirectory("graft-ds-ck").toString + "/ck")

    DedupLayout.materialize(spark, docs, scratch)
    val streamed = pairRows(inc)
    assert(streamed.toSet === pairRows(scratch).toSet,
      "streamed index drifted from the batch build")
    assert(streamed.size === streamed.toSet.size, "duplicate pairs in the store")

    // full replay from a fresh checkpoint: same files re-batched in
    // order, every batch overwrites its own partition → nothing changes
    drain(Files.createTempDirectory("graft-ds-ck2").toString + "/ck")
    val replayed = pairRows(inc)
    assert(replayed.sorted === streamed.sorted,
      "replay with a wiped checkpoint changed the store")

    // a single post-drain refresh (watermark-driven: both micro-batches
    // are after the base labels' covered batch) equals the cold fixpoint
    DedupLayout.refreshLabels(spark, inc)
    val warm = DedupLayout.labels(spark, inc).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cold = DedupLayout.labels(spark, scratch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(warm === cold)
    CacheLife.release(spark)
  }
}
