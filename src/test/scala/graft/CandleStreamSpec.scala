package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.CandleStream

case class TestCandle(time_period_start: Timestamp, price_low: Int,
                      price_high: Int, price_close: Int,
                      volume_traded: Double, trades_count: Int)

class CandleStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def candle(t: String, vol: Double = 1.0, lo: Int = 100, hi: Int = 110) =
    TestCandle(ts(t), lo, hi, 105, vol, 3)

  test("streaming dedup drops re-fetched candles within the watermark") {
    val in = MemoryStream[TestCandle](spark)
    val q = CandleStream.dedup(in.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(candle("2023-04-26 04:30:00"), candle("2023-04-26 04:30:00"))
      q.processAllAvailable()
      in.addData(candle("2023-04-26 04:30:00"), candle("2023-04-26 04:35:00"))
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("time_period_start")
        .collect().map(_.getTimestamp(0).toString).sorted
      assert(got.sameElements(Array("2023-04-26 04:30:00.0", "2023-04-26 04:35:00.0")))
    } finally q.stop()
  }

  test("daily tumbling aggregate emits the dashboard KPI row per closed day") {
    val in = MemoryStream[TestCandle](spark)
    val q = CandleStream.dailyAggregate(in.toDF(), delay = "1 hour").writeStream
      .format("memory").queryName("daily_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        candle("2023-04-26 04:30:00", vol = 1.5, lo = 100, hi = 120),
        candle("2023-04-26 10:00:00", vol = 2.5, lo = 90, hi = 130))
      q.processAllAvailable()
      // advance the watermark past 2023-04-26's window end
      in.addData(candle("2023-04-28 12:00:00"))
      q.processAllAvailable()
      val rows = spark.table("daily_out").collect()
      assert(rows.length == 1, s"exactly the closed day: ${rows.toSeq}")
      val r = rows.head
      assert(r.getTimestamp(0).toString.startsWith("2023-04-26"))
      assert(r.getDouble(1) == 4.0) // volume
      assert(r.getInt(2) == 90 && r.getInt(3) == 130)
      assert(r.getLong(5) == 2L) // n_candles
    } finally q.stop()
  }

  test("mapGroupsWithState running stats update across micro-batches") {
    val in = MemoryStream[TestCandle](spark)
    val q = CandleStream.runningDayStats(in.toDF()).writeStream
      .format("memory").queryName("running_out")
      .outputMode(CandleStream.RunningOutputMode).start()
    try {
      in.addData(candle("2023-04-26 04:30:00", vol = 1.5))
      q.processAllAvailable()
      in.addData(candle("2023-04-26 09:00:00", vol = 4.5),
        candle("2023-04-27 01:00:00", vol = 2.0))
      q.processAllAvailable()
      // memory sink in Update mode appends updated rows; the LAST row
      // per day carries the running totals
      val last = spark.table("running_out").collect()
        .groupBy(_.getDate(0).toString)
        .map { case (d, rows) => d -> rows.maxBy(_.getLong(3)) }
      assert(last("2023-04-26").getDouble(1) == 4.5) // running max volume
      assert(last("2023-04-26").getLong(2) == 6L) // 2 candles × 3 trades
      assert(last("2023-04-26").getLong(3) == 2L)
      assert(last("2023-04-27").getLong(3) == 1L)
    } finally q.stop()
  }
}
