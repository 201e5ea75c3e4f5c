package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's one data model: OHLCV candles (SURVEY.md §1).
  *
  * Schema from the Postgres DDL (reference dags/airflow_dags.py:93-109)
  * and Redshift DDL (:213-228); semantics notes:
  *   - prices are DECLARED int but arrive as decimal floats; Postgres
  *     INSERT rounds while Spark's cast truncates — `round().cast("int")`
  *     is load-bearing (SURVEY §1.4);
  *   - timestamps arrive as ISO-8601 `...Z` strings and are stored
  *     UTC-naive (airflow_dags.py:45-48) — the session pins
  *     spark.sql.session.timeZone=UTC;
  *   - `period_date` is derived: date(time_period_start) (:49);
  *   - `id` is a Postgres SERIAL — no Spark analog; see [[assignIds]].
  */
object Ohlcv {

  /** Columns as the API delivers them (reference FIXTURES.md §A.2). */
  val apiSchema: StructType = StructType(Seq(
    StructField("time_period_start", StringType),
    StructField("time_period_end", StringType),
    StructField("time_open", StringType),
    StructField("time_close", StringType),
    StructField("price_open", DoubleType),
    StructField("price_high", DoubleType),
    StructField("price_low", DoubleType),
    StructField("price_close", DoubleType),
    StructField("volume_traded", DoubleType),
    StructField("trades_count", IntegerType)))

  /** Warehouse column order — POSITIONAL contract: the interchange CSV is
    * headerless with `id` first (pandas index), and the COPY maps by
    * position (airflow_dags.py:66-69, :287). Reordering corrupts loads.
    */
  val columns: Seq[String] = Seq(
    "id", "time_period_start", "time_period_end", "time_open", "time_close",
    "price_open", "price_high", "price_low", "price_close",
    "volume_traded", "trades_count", "period_date")

  val tableSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("time_period_start", TimestampType),
    StructField("time_period_end", TimestampType),
    StructField("time_open", TimestampType),
    StructField("time_close", TimestampType),
    StructField("price_open", IntegerType),
    StructField("price_high", IntegerType),
    StructField("price_low", IntegerType),
    StructField("price_close", IntegerType),
    StructField("volume_traded", DoubleType),
    StructField("trades_count", IntegerType),
    StructField("period_date", DateType)))

  /** API JSON payloads → typed candles (reference transform,
    * airflow_dags.py:43-49): parse timestamps, ROUND-cast prices,
    * derive period_date. No `id` yet — the sink assigns it.
    */
  def fromJson(spark: SparkSession, payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    val raw = spark.read.schema(apiSchema)
      .json(spark.createDataset(payloads.flatMap(splitJsonArray)))
    normalize(raw)
  }

  /** The per-candle transform, reusable for batch and streaming inputs. */
  def normalize(raw: DataFrame): DataFrame = {
    val ts = Seq("time_period_start", "time_period_end", "time_open", "time_close")
    val parsed = ts.foldLeft(raw)((df, c) => df.withColumn(c, to_timestamp(col(c))))
    val prices = Seq("price_open", "price_high", "price_low", "price_close")
    val rounded = prices.foldLeft(parsed)((df, c) =>
      df.withColumn(c, round(col(c)).cast("int")))
    rounded.withColumn("period_date", to_date(col("time_period_start")))
  }

  /** Split a JSON array payload into element strings — driver-side and
    * tiny in the reference cadence (1 candle / 5 min / coin); at ingest
    * scale the payloads would land on a distributed source first.
    */
  private[graft] def splitJsonArray(payload: String): Seq[String] = {
    val t = payload.trim
    if (!t.startsWith("[")) Seq(t)
    else {
      // depth-scan split of a JSON array of flat objects
      val body = t.stripPrefix("[").stripSuffix("]")
      val out = scala.collection.mutable.Buffer.empty[String]
      var depth = 0; var start = 0; var inStr = false; var esc = false
      body.zipWithIndex.foreach { case (ch, i) =>
        if (esc) esc = false
        else if (inStr) { if (ch == '\\') esc = true else if (ch == '"') inStr = false }
        else ch match {
          case '"' => inStr = true
          case '{' => if (depth == 0) start = i; depth += 1
          case '}' => depth -= 1; if (depth == 0) out += body.substring(start, i + 1)
          case _ =>
        }
      }
      out.toSeq
    }
  }

  /** SERIAL-key emulation (SURVEY §7.5.1): deterministic row_number over
    * the event-time ordering, offset by the destination's current max id.
    * The batch tick takes that mark from the table's stored sequence
    * ([[Warehouse.serialAppend]]), which the append observes and rewrites
    * after it commits; a [[Warehouse.maxId]] scan only recovers a missing
    * sequence. The streaming sink takes it from
    * [[Warehouse.streamMaxId]].
    *
    * Scale warning (documented anti-pattern): the window has no
    * PARTITION BY, so it is one global sort in one task. The input is
    * brought to that one partition EXPLICITLY with `coalesce(1)`: no
    * shuffle and no extra job, which is what a one-row ingest tick
    * wants, but it also pulls the upstream parse into the same single
    * task. Correct and cheap for the reference's ≤288 rows/day; at
    * 100 TB use the natural key (symbol, time_period_start) or
    * zipWithIndex-style per-partition offsets instead.
    */
  def assignIds(df: DataFrame, startId: Long): DataFrame = {
    // Order by EVERY column, not just the two time keys: ties under a
    // partial order would leave row_number to upstream partition arrival
    // order, and the streaming sink's replay-determinism contract
    // (WarehouseSinkSpec) needs identical ids on redelivery. A total
    // order over all columns is deterministic up to byte-identical rows,
    // whose ids are interchangeable anyway.
    val w = Window.orderBy(
      (Seq("time_period_start", "time_close") ++
        columns.filterNot(Set("id", "time_period_start", "time_close"))).map(col): _*)
    df.coalesce(1)
      .withColumn("id", row_number().over(w).cast("long") + startId)
      .select(columns.map(col): _*)
  }
}
