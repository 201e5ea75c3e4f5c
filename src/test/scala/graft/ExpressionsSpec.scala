package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.functions.expressions.MinHashSig

/** Native expressions must be VALUE-IDENTICAL to the declarative
  * formulations they replace (the declarative forms are what the DuckDB
  * oracle mirrors).
  */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_minhash equals the declarative signature on real documents") {
    val sh = T.shingles(T.tokens(col("text")), 3)
    val both = Tables.documents(spark, Sf)
      .select(col("doc_id"), sh.as("sh"))
      .select(
        call_function("graft_minhash", col("sh"), lit(16)).as("native"),
        T.minhashSignature(T.shingleHashes(col("sh")), 16).as("declarative"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("graft_minhash returns null for un-shingleable docs") {
    val r = Seq("a b").toDF("text")
      .select(call_function("graft_minhash",
        T.shingles(T.tokens(col("text")), 3), lit(16)))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("hash40 equals the md5 hex-prefix spelling") {
    val fromHex = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("shingle x y").take(10), 16)
    assert(MinHashSig.hash40("shingle x y".getBytes("UTF-8")) == fromHex)
  }

  /** Σ aᵢ·bᵢ as a left fold in double: the declarative form of the
    * sums `graft_cosine` runs in one native loop.
    */
  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def l2(a: Column): Column = sqrt(dot(a, a))

  test("graft_cosine equals the declarative fold bit-for-bit on embeddings") {
    val e = Tables.embeddings(spark, Sf).limit(200)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q)).select(
      call_function("graft_cosine", col("embedding"), col("qv")).as("native"),
      (dot(V.vecD(col("embedding")), V.vecD(col("qv"))) /
        (l2(V.vecD(col("embedding"))) * l2(V.vecD(col("qv"))))).as("declarative"))
    both.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"$r")
    }
  }

  test("graft_shingles equals the declarative word shingles on real documents") {
    val both = Tables.documents(spark, Sf).select(
      call_function("graft_shingles", T.tokens(col("text")), lit(3)).as("native"),
      T.shingles(T.tokens(col("text")), 3).as("declarative"))
    both.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_char_shingles equals the declarative char shingles incl. multibyte") {
    val docs = Seq("abcdefg", "ab", "héllo wörld").toDF("text")
    val both = docs.select(
      call_function("graft_char_shingles", col("text"), lit(5)).as("native"),
      T.charShingles(col("text"), 5).as("declarative"))
    both.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("graft_shingles NULL contract: NULL text → NULL (sentinel-equivalent)") {
    val r = Seq[Option[String]](None).toDF("text")
      .select(call_function("graft_shingles", T.tokens(col("text")), lit(3)))
      .collect().head
    assert(r.isNullAt(0)) // declarative form yields [], but both feed the
    // same solo band key downstream (minhash(NULL|empty) → NULL sig)
  }

  test("graft_cosine returns NULL on dimension mismatch (declarative parity)") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 2.0D), array(1.0D)) AS c").collect().head
    assert(r.isNullAt(0))
  }

  test("graft_minhash accepts an int-range prime literal from SQL") {
    val r = spark.sql("SELECT graft_minhash(array('a b c'), 4, 97) AS m")
      .collect().head
    assert(r.getSeq[Long](0).forall(v => v >= 0 && v < 97))
  }

  test("native functions are callable from spark.sql") {
    val v = spark.sql(
      "SELECT graft_cosine(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS c, " +
      "graft_minhash(array('a b c', 'b c d'), 4) AS m")
      .collect().head
    assert(math.abs(v.getDouble(0) - 1.0) < 1e-12)
    assert(v.getSeq[Long](1).size == 4)
  }
}
