package graft

import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val a = Array(1.0f, 2.0f, 3.0f, -4.0f)
  private val b = Array(0.5f, -1.0f, 2.0f, 1.5f)

  private def df = Seq((a, b)).toDF("a", "b")

  test("dotN equals the generic fold dot bit-for-bit") {
    val Array(row) = df.select(
      V.dotN(col("a"), col("b"), 4).as("unrolled"),
      V.dot(V.vecD(col("a")), V.vecD(col("b"))).as("fold")).collect()
    assert(row.getDouble(0) == row.getDouble(1))
    assert(row.getDouble(0) == (0.5 - 2.0 + 6.0 - 6.0))
  }

  test("cosine of identical vectors is 1") {
    val c = df.select(round(V.cosine(col("a"), col("a")), 9))
      .collect().head.getDouble(0)
    assert(c == 1.0)
  }

  test("signBucket encodes coordinate signs little-endian") {
    val bkt = df.select(V.signBucket(col("a"), 4)).collect().head.getLong(0)
    // signs of (1, 2, 3, -4) → bits 0,1,2 set → 7
    assert(bkt == 7L)
  }
}
