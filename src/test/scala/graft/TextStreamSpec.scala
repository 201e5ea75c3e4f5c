package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextQueries
import graft.sources.TextLayout
import graft.streaming.IngestSink

/** Streaming ingest into the token store: micro-batched arrivals must
  * grow both logs to EXACTLY the batch-built store, the re-derived
  * vocabulary must equal the registered query, and a full replay from
  * a wiped checkpoint must change nothing — COUNT-checked (a
  * duplicate-appending replay would pass a set compare and still
  * double every token count).
  */
class TextStreamSpec extends SparkSpec {

  private def writeOneFile(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-ts-part")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
  }

  test("streamed arrivals on an EMPTY root reach batch parity; replay adds nothing") {
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val m = col("doc_id") % 3
    val root = Files.createTempDirectory("graft-ts-root").toString
    val qdir = Files.createTempDirectory("graft-ts-q")

    // three arrival files → three micro-batches (maxFilesPerTrigger=1);
    // NO materialize: the stream bootstraps the store from empty
    writeOneFile(docs.filter(m === 0), qdir, "arrivals1.parquet")
    writeOneFile(docs.filter(m === 1), qdir, "arrivals2.parquet")
    writeOneFile(docs.filter(m === 2), qdir, "arrivals3.parquet")

    def drain(checkpoint: String): Unit = {
      val q = IngestSink.start(IngestSink.read(spark, qdir.toString), checkpoint)(
        TextLayout.append(_, _, root, _))
      try q.processAllAvailable() finally q.stop()
    }
    drain(Files.createTempDirectory("graft-ts-ck").toString + "/ck")

    // the streamed log covers exactly the corpus token multiset
    val total = TextLayout.tokens(spark, root).count()
    val want = docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))).count()
    assert(total === want, s"streamed log holds $total rows, corpus tokenizes to $want")

    // vocabulary re-derived from the streamed partials == the
    // registered (oracle-checked) query
    val derived = TextLayout.vocab(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val registered = TextQueries.tokenFreq(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(derived === registered,
      "vocabulary from the streamed store drifted from text_token_freq")

    // full replay from a wiped checkpoint: same files re-batched with
    // the same ids → every batch overwrites its own partitions
    drain(Files.createTempDirectory("graft-ts-ck2").toString + "/ck")
    assert(TextLayout.tokens(spark, root).count() === total,
      "replay with a wiped checkpoint grew the raw log")
    assert(TextLayout.tokenCounts(spark, root).agg(sum("tf")).head.getLong(0) === total,
      "replay with a wiped checkpoint grew the count partials")
    CacheLife.release(spark)
  }
}
