package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `array<float>` columns, as pure
  * Catalyst expressions (codegen'd; no UDF, no ML-lib dependency, no
  * driver collect).
  *
  * Scoring is the native `graft_cosine` ([[graft.functions.expressions
  * .CosineSim]]). Search strategies layered on top (SimilarityQueries):
  *   - brute-force top-k = broadcast the query vector + TakeOrderedAndProject
  *     (per-partition heaps, no global sort) — the exact baseline, linear
  *     scan, still the right answer below ~10⁸ vectors per query batch;
  *   - sign-LSH bucketing = shuffle-free blocking on a leading-bits key,
  *     the 100 TB path (bucket count grows with corpus; probe adjacent
  *     buckets for recall).
  *
  * Cross-engine determinism: sums fold LEFT over the array in double on
  * both engines (the `graft_cosine` loop, DuckDB `list_dot_product`) — IEEE
  * addition in identical order gives bit-identical results; outputs are
  * additionally rounded to 6 dp before any ordering or thresholding.
  */
object VectorFunctions {

  /** float[] → double[] (exact widening). */
  def vecD(c: Column): Column = c.cast("array<double>")

  /** Random-hyperplane-style LSH bucket using coordinate signs of the
    * first `bits` dimensions: Σ (v[d] > 0) << d. Deterministic, exact,
    * and identical across engines (a sign test has no float ambiguity).
    */
  def signBucket(v: Column, bits: Int): Column = signBucketAt(v, 0, bits)

  /** [[signBucket]] over dimensions [offset, offset+bits) — one BAND of
    * a banded sign-LSH scheme (`SimilarityQueries.pairsLsh`): band m
    * reads its own disjoint bit range, so the bands are independent
    * hash functions over disjoint coordinate subsets.
    */
  def signBucketAt(v: Column, offset: Int, bits: Int): Column =
    (0 until bits).map { d =>
      when(element_at(v, offset + d + 1) > 0, lit(1L << d)).otherwise(lit(0L))
    }.reduce(_ + _)
}

/** DuckDB spellings of [[VectorFunctions]]. */
object VectorOracle {
  def vecD(c: String): String = s"($c)::DOUBLE[]"

  def dot(a: String, b: String): String = s"list_dot_product($a, $b)"

  def l2(a: String): String = s"sqrt(${dot(a, a)})"

  def cosine(a: String, b: String): String =
    s"${dot(a, b)} / (${l2(a)} * ${l2(b)})"

  def signBucket(v: String, bits: Int): String = signBucketAt(v, 0, bits)

  def signBucketAt(v: String, offset: Int, bits: Int): String =
    (0 until bits).map { d =>
      s"(CASE WHEN ($v)[${offset + d + 1}] > 0 THEN ${1L << d} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
