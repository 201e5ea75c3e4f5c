package graft.streaming

import java.sql.Date

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sources.{Ohlcv, Warehouse}

/** Mutable per-day running aggregate carried by [[CandleStream.runningDayStats]]. */
case class DayRunning(max_volume: Double, total_trades: Long, n_candles: Long)

case class DayRow(period_date: Date, max_volume: Double,
                  total_trades: Long, n_candles: Long)

/** Streaming-native variant of the reference's temporal semantics
  * (SURVEY §2.9): the scheduler-driven micro-batches (cron 5-min ingest
  * T1, @daily close-out T2) re-expressed as one Structured Streaming
  * topology. Batch and stream share [[graft.sources.Ohlcv.normalize]] —
  * the transforms are plan fragments, agnostic to the source.
  *
  * State bounds (SURVEY §7.5.7): only tumbling windows + per-key
  * dedup — the watermark lets Spark drop window state after
  * (window end + delay) and dedup keys older than the watermark.
  */
object CandleStream {

  /** T3 fix, streaming form: at-most-one candle per period start within
    * the watermark horizon (re-fetches of the same candle dedup away).
    */
  def dedup(candles: DataFrame, delay: String = "10 minutes"): DataFrame =
    candles
      .withWatermark("time_period_start", delay)
      .dropDuplicates("time_period_start")

  /** T2 as a stream: daily tumbling close-out aggregates — the
    * QuickSight daily tiles (A3-A5) computed incrementally instead of by
    * re-scanning the warehouse.
    */
  def dailyAggregate(candles: DataFrame, delay: String = "1 hour"): DataFrame =
    candles
      .withWatermark("time_period_start", delay)
      .groupBy(window(col("time_period_start"), "1 day").as("day"))
      .agg(
        sum("volume_traded").as("volume_traded"),
        min("price_low").as("lowest_price"),
        max("price_high").as("highest_price"),
        sum("trades_count").as("total_trades"),
        count("*").as("n_candles"))
      .select(col("day.start").as("period_date"), col("volume_traded"),
        col("lowest_price"), col("highest_price"), col("total_trades"),
        col("n_candles"))

  /** Custom streaming state (SURVEY §2.9 beyond tumbling windows):
    * per-day RUNNING dashboard stats via `mapGroupsWithState` — emits
    * the updated row on every micro-batch (OutputMode.Update), unlike
    * the windowed aggregate that emits once on watermark close. This is
    * the arbitrary-state API a pipeline reaches for when built-in
    * windows can't express the update semantics; state here is O(1) per
    * open day, and each day's state EXPIRES once the event-time
    * watermark passes (day end + `expireAfter`) — without the timeout a
    * long-running job's state grows one entry per day forever.
    *
    * Late-data tradeoff of the timeout: the required watermark DROPS
    * candles more than `delay` late (the NoTimeout formulation accepted
    * arbitrarily late rows at the cost of unbounded state) — size
    * `delay` to the source's real lateness.
    */
  def runningDayStats(candles: DataFrame, expireAfter: String = "1 day",
                      delay: String = "10 minutes"): DataFrame = {
    val spark = candles.sparkSession
    import spark.implicits._
    candles
      .withWatermark("time_period_start", delay)
      // the watermarked timestamp column must SURVIVE the projection —
      // deriving day via to_date drops the watermark metadata and the
      // event-time timeout is rejected at analysis
      .select(col("time_period_start"),
        to_date(col("time_period_start")).as("day"),
        col("volume_traded"), col("trades_count"))
      .as[(java.sql.Timestamp, Date, Double, Int)]
      .groupByKey(_._2)
      .mapGroupsWithState[DayRunning, DayRow](GroupStateTimeout.EventTimeTimeout) {
        case (day, rows, state: GroupState[DayRunning]) =>
          if (state.hasTimedOut) {
            // closed day: emit the final row once more and drop the state
            val last = state.get
            state.remove()
            DayRow(day, last.max_volume, last.total_trades, last.n_candles)
          } else {
            val prev = state.getOption.getOrElse(DayRunning(Double.MinValue, 0L, 0L))
            val next = rows.foldLeft(prev) { (acc, r) =>
              DayRunning(math.max(acc.max_volume, r._3),
                acc.total_trades + r._4, acc.n_candles + 1)
            }
            state.update(next)
            state.setTimeoutTimestamp(
              day.toLocalDate.plusDays(1).toEpochDay * 86400000L, expireAfter)
            DayRow(day, next.max_volume, next.total_trades, next.n_candles)
          }
      }
      .toDF()
  }

  /** The output mode [[runningDayStats]] requires. */
  val RunningOutputMode: OutputMode = OutputMode.Update()

  /** The reference's T1→COPY loop, stream-native: normalized candles →
    * SERIAL id assignment → warehouse, as a `foreachBatch` sink. Inside
    * the batch function the micro-batch is a plain DataFrame, so the
    * batch-only pieces (the global-window [[Ohlcv.assignIds]], the
    * high-water-mark read) run unchanged — `foreachBatch` is exactly the
    * escape hatch for reusing batch sinks under a stream.
    *
    * Exactly-once: ids derive from the mark over EARLIER batches only
    * (deterministic under replay) and the write is
    * [[Warehouse.idempotentAppend]] (a redelivered batch overwrites its
    * own partition). WarehouseSinkSpec proves a forced redelivery
    * changes nothing.
    *
    * CONTRACT — single writer per warehouse path: the high-water mark
    * is held driver-side and `streamMaxId` excludes only THIS query's
    * current batch, so two concurrent sinks (or a second query started
    * against the same path) would each track their own mark and assign
    * colliding ids. One streaming query owns a path at a time — the
    * same serial-id serialization point documented on
    * [[Ohlcv.assignIds]] (SURVEY §7.5.1); a multi-writer deployment
    * replaces SERIAL ids with natural keys, not this sink.
    */
  def warehouseSink(candles: DataFrame, path: String,
                    checkpoint: String): StreamingQuery = {
    // High-water mark carried across batches driver-side: only the first
    // batch after a (re)start pays the table read (streamMaxId is an
    // O(earlier-batches) scan); consecutive batches advance the mark
    // from their own row count. Any gap in the batch sequence (restart,
    // replay) falls back to the authoritative read — which excludes the
    // current batch, so a replayed batch recomputes its original mark.
    var mark: Option[(Long, Long)] = None // (batchId, maxId after it)
    candles.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val start = mark match {
          case Some((prev, m)) if prev == batchId - 1 => m
          case _ => Warehouse.streamMaxId(batch.sparkSession, path, batchId)
        }
        val b = batch.persist()
        try {
          Warehouse.idempotentAppend(Ohlcv.assignIds(b, start), path, batchId)
          mark = Some((batchId, start + b.count()))
        } finally b.unpersist()
      }
      .start()
  }
}
