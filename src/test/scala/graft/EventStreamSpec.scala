package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.EventStream

/** Streams-are-incremental-batch: draining the events table through the
  * file-stream source must reproduce the batch daily counts exactly.
  */
class EventStreamSpec extends SparkSpec {

  test("file-stream daily counts equal the batch aggregate after drain") {
    // file source wants a directory of files
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val agg = EventStream.countByDay(EventStream.read(spark, dir.toString))
    val q = agg.writeStream
      .format("memory").queryName("stream_counts")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    val streamed =
      try {
        assert(q.awaitTermination(120000), "stream did not drain in 120s")
        spark.table("stream_counts").collect()
          .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      } finally q.stop()

    val batch = CoreQueriesBatchCounts()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed.values.sum == Tables.events(spark, Sf).count())
  }

  private def CoreQueriesBatchCounts(): Map[String, Long] =
    graft.operators.CoreQueries.countByDay(spark, Sf).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap

  test("session_window sessionization equals the batch gap sessionize after drain") {
    val dir = Files.createTempDirectory("graft-sess")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = EventStream.sessionize(EventStream.read(spark, dir.toString))
      .writeStream
      .format("memory").queryName("stream_sessions")
      .outputMode(OutputMode.Complete)
      .trigger(Trigger.AvailableNow())
      .start()
    val streamed =
      try {
        assert(q.awaitTermination(120000), "stream did not drain in 120s")
        spark.table("stream_sessions").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      } finally q.stop()

    // batch ordinals don't exist stream-side — compare the full row set
    // on the shared identity (user, start) with measures attached
    val batch = graft.operators.TemporalQueries.sessionize(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(streamed.sorted.toSeq == batch.sorted.toSeq,
      s"stream sessions (${streamed.length}) != batch sessions (${batch.length})")
  }

  test("watermarked stream dedup yields each event once under full redelivery") {
    val dir = Files.createTempDirectory("graft-dedup")
    // the same file landed TWICE = two micro-batches (maxFilesPerTrigger=1),
    // the second a complete redelivery of the first
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events-1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events-2.parquet"), StandardCopyOption.REPLACE_EXISTING)

    // horizon (40 days) > fixture span (~30 days): no state evicts, so
    // every redelivered key is still remembered — exactness proof; a
    // deployment sizes it to the worst redelivery lateness instead
    val q = EventStream.dedup(EventStream.read(spark, dir.toString), "40 days")
      .select("event_id")
      .writeStream
      .format("memory").queryName("stream_dedup")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    val streamed =
      try {
        assert(q.awaitTermination(120000), "stream did not drain in 120s")
        spark.table("stream_dedup").collect().map(_.getLong(0))
      } finally q.stop()

    val batchIds = Tables.events(spark, Sf).select("event_id")
      .distinct().collect().map(_.getLong(0))
    assert(streamed.length == streamed.distinct.length, "stream emitted duplicates")
    assert(streamed.sorted.toSeq == batchIds.sorted.toSeq,
      s"stream ids (${streamed.length}) != batch distinct ids (${batchIds.length})")
  }

  test("streaming source follows the corpus' PHYSICAL timestamp shape (regeneration-proof)") {
    import org.apache.spark.sql.functions._
    // The driver has regenerated the corpus across physical timestamp
    // types before (NANOS ↔ MICROS); a pinned declared schema broke the
    // streaming suites each flip. EventStream.schemaOf probes the
    // footers, so a drain over each physically-different corpus must
    // work UNMODIFIED and agree with the batch path over the same dir.
    def drainCounts(dir: String, name: String): Map[String, Long] = {
      val q = EventStream.countByDay(EventStream.read(spark, dir))
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete)
        .trigger(Trigger.AvailableNow()).start()
      try {
        assert(q.awaitTermination(120000), "stream did not drain in 120s")
        spark.table(name).collect()
          .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
      } finally q.stop()
    }
    def batchCounts(dir: String): Map[String, Long] =
      Tables.deriveTs(spark.read.parquet(dir))
        .groupBy(to_date(col("ts")).as("period_date")).count().collect()
        .map(r => r.getDate(0).toString -> r.getLong(1)).toMap

    val base = Tables.events(spark, Sf)
      .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")

    // shape 1: the NANOS generation as the reader sees it — under
    // nanosAsLong a TIMESTAMP(NANOS) column infers as a plain LONG of
    // epoch nanos, so a long `ts` column IS that generation's shape
    val nanosDir = Files.createTempDirectory("graft-shape-nanos").toString
    base.withColumnRenamed("ts_ns", "ts")
      .write.mode("overwrite").parquet(nanosDir)
    assert(EventStream.schemaOf(spark, nanosDir)("ts").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(drainCounts(nanosDir, "shape_nanos") === batchCounts(nanosDir))

    // shape 2: a tz-adjusted MILLIS generation (another plausible
    // regeneration drift — infers as TimestampType, not the pinned ntz)
    val millisDir = Files.createTempDirectory("graft-shape-millis").toString
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try base.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .drop("ts_ns")
      .write.mode("overwrite").parquet(millisDir)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)
    assert(EventStream.schemaOf(spark, millisDir)("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(drainCounts(millisDir, "shape_millis") === batchCounts(millisDir))

    // an EMPTY landing zone still yields a readable stream (fallback
    // schema): no footers to probe, but read() must not throw
    val emptyDir = Files.createTempDirectory("graft-shape-empty").toString
    assert(EventStream.schemaOf(spark, emptyDir) === EventStream.schema)
    EventStream.read(spark, emptyDir) // must construct without throwing
  }

  test("stateful streaming as-of join equals the batch union-window as-of after drain") {
    val dir = Files.createTempDirectory("graft-asof")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = EventStream.asofJoin(EventStream.read(spark, dir.toString))
      .writeStream
      .format("memory").queryName("stream_asof")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    val streamed =
      try {
        assert(q.awaitTermination(120000), "stream did not drain in 120s")
        spark.table("stream_asof").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long])))
      } finally q.stop()

    val batch = graft.operators.TemporalQueries.asofJoin(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(streamed.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
      s"stream as-of (${streamed.length}) != batch as-of (${batch.length})")
  }
}
