package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders over a driver-provided scale-factor directory
  * (`/root/testdata/sf*`, see TESTDATA.md). All engine queries resolve
  * input through here so the physical layout (single parquet file per
  * table today; partitioned directories at cluster scale) is decided in
  * exactly one place.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `schema` declares the table's columns; without it the read infers
    * them from the parquet footers.
    */
  def load(spark: SparkSession, sfDir: String, name: String,
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(s"$sfDir/$name.parquet")

  /** Spread a small single-file scan across all cores before heavy
    * per-row compute (minhash/simhash/unrolled dots): one parquet file =
    * one input split = one task, which serializes everything above it.
    * The round-robin shuffle of a few thousand rows is microseconds; at
    * cluster scale the source has thousands of splits and this repartition
    * is unnecessary (and would be dropped in favor of AQE coalescing).
    */
  def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)

  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  /** `events.ts` has shipped in two physical shapes across corpus
    * generations: parquet TIMESTAMP(NANOS) — unrepresentable in Spark's
    * micro-precision TimestampType, read as a nanos-epoch long via
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    * Sessions.builder) — and plain TIMESTAMP(MICROS), which Spark reads
    * as a (ntz) timestamp. [[deriveTs]] normalizes either shape to the
    * SAME output contract: exact `ts_ns` (nanos-epoch long) + a
    * micro-precision `ts` timestamp for calendar ops. Queries that must
    * hash-match the DuckDB oracle emit `ts_ns`-derived integers, never
    * raw timestamps.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    deriveTs(load(spark, sfDir, "events"))

  /** The one place the ts-normalization contract lives (batch AND
    * streaming paths share it — see the events scaladoc above; the
    * batch path auto-detects the physical shape from the inferred
    * schema, and the streaming file source probes the same inferred
    * schema from the footers at stream start — EventStream.schemaOf —
    * so BOTH paths are generation-proof). Output
    * is shape-independent: `ts_ns` long (exact; `div 1000` = floor for
    * the post-1970 data — integer div, a double division would lose
    * precision above 2^53) and `ts` micros timestamp. For a
    * micros-precision source the nanos view is exact (micros · 1000);
    * the cast from ntz is instant-preserving under the session's pinned
    * UTC zone.
    */
  def deriveTs(raw: DataFrame): DataFrame = {
    val renamed = raw.withColumnRenamed("ts", "ts_ns")
    val normalized = renamed.schema("ts_ns").dataType match {
      case org.apache.spark.sql.types.LongType => renamed
      case _ => // TIMESTAMP / TIMESTAMP_NTZ micros source
        renamed.withColumn("ts_ns",
          unix_micros(col("ts_ns").cast("timestamp")) * lit(1000L))
    }
    normalized.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
  }

  /** The corpus tables the store drain reads, on declared schemas: an
    * inferred read runs a footer-reading Spark job every time a
    * DataFrame is built. `events` keeps inference, because [[deriveTs]]
    * branches on its physical `ts` type. TablesSpec checks both against
    * inference on sf0.001.
    */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  val EmbeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "documents", Some(DocumentsSchema))
  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "embeddings", Some(EmbeddingsSchema))
}
