package graft

import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val a = Array(1.0f, 2.0f, 3.0f, -4.0f)
  private val b = Array(0.5f, -1.0f, 2.0f, 1.5f)

  private def df = Seq((a, b)).toDF("a", "b")

  test("signBucket encodes coordinate signs little-endian") {
    val bkt = df.select(V.signBucket(col("a"), 4)).collect().head.getLong(0)
    // signs of (1, 2, 3, -4) → bits 0,1,2 set → 7
    assert(bkt == 7L)
  }
}
