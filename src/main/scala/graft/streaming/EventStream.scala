package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Per-user streaming as-of state: the latest click seen so far. */
case class AsofClick(click_id: Long, click_ts: Long)

/** One matched error row emitted by [[EventStream.asofJoin]]. */
case class AsofMatch(err_id: Long, user_id: Long, err_ts_us: Long,
                     last_click_id: Option[Long], last_click_ts: Option[Long])

/** Structured-Streaming ingestion of the `events` table from a file
  * source — "streams are incremental batch": the SAME daily aggregate
  * the batch engine computes (CoreQueries.countByDay), expressed over
  * `readStream`, must produce identical results once the stream drains
  * (EventStreamSpec proves it with Trigger.AvailableNow).
  *
  * At deployment scale this is the landing-zone pattern: parquet files
  * arrive in a date-partitioned directory, `maxFilesPerTrigger` bounds
  * each micro-batch, the watermark bounds state, and the sink appends
  * closed windows — no reprocessing of the growing corpus.
  */
object EventStream {

  /** Fallback schema for an EMPTY landing zone (file sources require an
    * explicit schema and there are no footers to probe yet): the
    * current corpus generation's physical shape (TIMESTAMP(MICROS), no
    * UTC adjustment → ntz). Populated dirs never use this — see
    * [[schemaOf]].
    */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events schema AS STORED, probed from the parquet footers with
    * a batch reader at stream start (a footer read, not a data scan).
    * The driver has regenerated the corpus across physical timestamp
    * types before (TIMESTAMP(NANOS) ↔ TIMESTAMP(MICROS)); a PINNED
    * declared schema breaks every streaming suite on each flip, while
    * the batch path shrugs because [[graft.Tables.deriveTs]] normalizes
    * whatever the reader infers. Probing gives the stream the exact
    * shape the batch reader sees — `nanosAsLong` included, under which
    * a NANOS column infers as plain LONG — and deriveTs does the rest.
    */
  def schemaOf(spark: SparkSession, dir: String): StructType =
    try spark.read.parquet(dir).schema
    catch { case _: org.apache.spark.sql.AnalysisException => schema }

  def read(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    graft.Tables.deriveTs(
      spark.readStream
        .schema(schemaOf(spark, dir))
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(dir))

  /** The A4 daily count as a watermarked streaming aggregate. */
  def countByDay(events: DataFrame, delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 day").as("day"))
      .agg(count("*").as("n_events"))
      .select(to_date(col("day.start")).as("period_date"), col("n_events"))

  /** Gap sessionization as a stream — the `session_window` twin of
    * [[graft.operators.TemporalQueries.sessionize]], closing the
    * batch/stream parity story for the temporal family the way
    * `CandleStream.dailyAggregate` twins T2. The built-in session
    * operator grows a per-user window while events land within the gap
    * and DROPS the window's state once the watermark passes its end —
    * bounded state over an unbounded stream, where the batch form's
    * lag+running-sum would need the whole history.
    *
    * Emits the batch query's measures per closed session. `session_idx`
    * is inherently a batch-ordinal notion (the k-th session of a user
    * is unknowable until all earlier sessions closed), so stream-side
    * identity is (user_id, session_start_us) — EventStreamSpec derives
    * the ordinal after the drain and proves row-level parity.
    *
    * Boundary convention: both forms start a NEW session at gap-or-more
    * idle — `session_window` merges only while `ts < prev + gap`, and
    * the batch form's predicate is `>= SessionGapUs` to match — so
    * parity holds even for an event landing exactly on the boundary
    * (cron-aligned pings do exactly that).
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count("*").as("n_events"),
        min(expr("ts_ns div 1000")).as("session_start_us"),
        max(expr("ts_ns div 1000")).as("session_end_us"))
      .select(col("user_id"), col("n_events"),
        col("session_start_us"), col("session_end_us"))

  /** Watermarked ingest dedup — the streaming twin of the batch
    * exact-dedup family (T3's duplicate-tolerant append, made exact at
    * the stream boundary): redelivered events are dropped by key while
    * their timestamp is inside the watermark horizon, so an at-least-once
    * upstream (file re-land, kafka redelivery, task retry) yields an
    * exactly-once table downstream WITHOUT the batch pass over the
    * accumulated corpus that [[graft.operators.DedupQueries.exact]]
    * would need.
    *
    * State is one entry per key within the horizon — O(arrival rate ×
    * horizon), NOT O(corpus): `dropDuplicatesWithinWatermark` evicts a
    * key once the watermark passes its event time, which is exactly the
    * bounded-state tradeoff: `horizon` must cover the worst redelivery
    * lateness (a duplicate arriving later than it slips through — and
    * lands in the idempotent batch-id overwrite one layer down,
    * Warehouse.idempotentAppend). EventStreamSpec sets the horizon past
    * the fixture's whole span and redelivers the entire file: full
    * redelivery, zero duplicate rows out.
    */
  def dedup(events: DataFrame, horizon: String = "30 days"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** The as-of join as a stream — the `flatMapGroupsWithState` twin of
    * [[graft.operators.TemporalQueries.asofJoin]]: each error pairs
    * with its user's latest click at-or-before it. Per-user state is
    * ONE row (the best click so far) — O(users) total, where the batch
    * form's union-window would need the whole history resident.
    *
    * Within a micro-batch the group's rows sort by (ts, is_error, id)
    * — clicks before errors on ties, exactly the batch query's window
    * order — so intra-batch results are exact regardless of arrival
    * order. ACROSS batches the state keeps only the latest click:
    * results match the batch query when arrival respects event time
    * across micro-batches (the landing-zone file source delivers in
    * file order = time order). An error delivered late, after a click
    * with a LARGER timestamp, would see that newer click; full
    * out-of-order correctness needs a watermark-buffered click history
    * per user — a deliberate state-size/lateness tradeoff documented
    * here, same family as the dedup watermark horizon.
    */
  def asofJoin(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[AsofClick, AsofMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[AsofClick]) =>
          val ordered = rows.toSeq.sortBy { case (id, _, typ, ts) =>
            (ts, if (typ == "error") 1 else 0, id)
          }
          val out = Seq.newBuilder[AsofMatch]
          var best = state.getOption
          ordered.foreach {
            case (id, _, "click", ts) =>
              // ties: the window order above already placed the
              // higher-id click last, so >= keeps the batch tiebreak
              if (best.forall(b => b.click_ts < ts || (b.click_ts == ts && b.click_id <= id)))
                best = Some(AsofClick(id, ts))
            case (id, _, "error", ts) =>
              out += AsofMatch(id, user, ts, best.map(_.click_id), best.map(_.click_ts))
            case _ => ()
          }
          best.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }
}
