package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot aggregation keys (the 100 TB problem AQE's
  * skew-join handling covers for JOINS but not for groupBy): two-stage
  * salted aggregation. Stage 1 groups by (key, salt) — the hot key's
  * rows spread over `salts` reducers — stage 2 merges the partials by
  * key. Correct for any algebraic aggregate (sum/count/min/max); the
  * second shuffle moves only `distinct_keys × salts` rows.
  *
  * The salt mixes the value and the input partition id — no RNG or
  * wall-clock (those would break task-retry idempotency). The RESULT is
  * salt-independent either way: any assignment merges to the same
  * aggregate; the salt only controls how evenly the hot key spreads.
  */
object SkewUtils {

  /** Salted SUM+COUNT by `key` — the partial-merge pattern; extend with
    * more algebraic aggregates as needed. The sum runs through a decimal
    * accumulator (Exact rationale) so the two-stage result is bit-equal
    * to a direct aggregation.
    */
  def saltedSumCount(df: DataFrame, key: Column, value: Column,
                     salts: Int = 32): DataFrame = {
    val salted = df.select(key.as("k"), value.as("v"))
      .withColumn("salt", pmod(hash(col("v"), spark_partition_id()), lit(salts)))
    salted
      .groupBy(col("k"), col("salt"))
      .agg(sum(col("v").cast("decimal(18,4)")).as("ps"), count("*").as("pc"))
      .groupBy(col("k"))
      .agg(sum(col("ps")).cast("double").as("sum_v"), sum(col("pc")).as("cnt"))
  }
}
