package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{Interchange, Ohlcv, Warehouse}

/** The reference's two DAGs as one driver program (SURVEY §3):
  * Airflow's task graph dissolves into sequential Spark jobs; XCom
  * becomes a return value (T5), dependency edges become statement order
  * (T6).
  *
  * Layout per pipeline root:
  *   `<root>/ingest/<coin>`    — the Postgres analog (5-min appends)
  *   `<root>/stage/<csvName>`  — the S3 CSV stage (daily close-out)
  *   `<root>/warehouse/<coin>` — the Redshift analog (COPY target)
  */
object Pipeline {

  /** Entry point A (5-min ingest, airflow_dags.py:82-177): DDL →
    * fetch → transform → append. `payloads` stands in for the CoinAPI
    * response (the HTTP fetch is environment, not engine).
    *
    * One Spark job, the append: table creation writes files directly,
    * and the SERIAL ids continue from the table's `_sequence` rather
    * than a scan ([[Warehouse.serialAppend]]; [[Warehouse.maxId]] runs
    * only to recover a missing sequence).
    */
  def ingestTick(spark: SparkSession, root: String, coin: String,
                 payloads: Seq[String]): Unit = {
    val tbl = s"$root/ingest/$coin"
    Warehouse.createIfNotExists(spark, tbl)
    Warehouse.serialAppend(spark, Ohlcv.fromJson(spark, payloads), tbl)
  }

  /** Entry point B (daily export + warehouse load,
    * airflow_dags.py:180-314): partition-pruned day filter → headerless
    * positional CSV stage → COPY-equivalent append. Returns the staged
    * CSV path (the XCom value, :79).
    *
    * The day is staged as ONE CSV object, as the reference's `to_csv`
    * writes one per coin-day, so the COPY reads it in one task and adds
    * one warehouse file per coin-day. The export pulls the day into one
    * task to do so: 288 rows at the reference cadence. A day far beyond
    * one task's reach would stage per partition instead and compact the
    * warehouse afterwards.
    */
  def dailyCloseout(spark: SparkSession, root: String, coin: String,
                    ds: String, tsNoDash: String): String = {
    val csvName = s"${coin}_price_data_$tsNoDash" // naming: airflow_dags.py:67
    val stage = s"$root/stage/$csvName"
    Interchange.writeCsv(
      Warehouse.dailyExport(spark, s"$root/ingest/$coin", ds).coalesce(1), stage)
    val wh = s"$root/warehouse/$coin"
    Warehouse.createIfNotExists(spark, wh)
    Warehouse.append(Interchange.readCsv(spark, stage), wh)
    stage
  }
}
