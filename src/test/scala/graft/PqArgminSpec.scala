package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.operators.SimilarityQueries

/** Bit-parity of the native PQ loops (`graft_pq_argmin`,
  * `graft_adc_lut` — one codegen'd pass each, round 19) against the
  * declarative spellings they replaced — the HierAssignSpec
  * discipline: the `array_min(struct(l2q, cid))` argmin and the
  * `array(l2q…)` LUT are the semantics every oracle hash was built on;
  * the native expressions are the physical form and must match them
  * value-for-value.
  */
class PqArgminSpec extends SparkSpec {

  private val SubDim = 16
  private val M = 4
  private val D = SubDim * M

  private def l2qDecl(sq: Column, c: Column): Column =
    SimilarityQueries.l2q(sq, c)

  private def argminDecl(sq: Column, cents: Seq[(Long, Seq[Long])]): Column =
    array_min(array(cents.map { case (cid, c) =>
      struct(l2qDecl(sq, typedLit(c)).as("d"), lit(cid).as("cid"))
    }: _*)).getField("cid")

  private def argminNative(sq: Column, cents: Seq[(Long, Seq[Long])]): Column =
    call_function("graft_pq_argmin", sq,
      typedLit(cents.map(_._2)), typedLit(cents.map(_._1)))

  private def subSlice(v: Column, m: Int): Column =
    slice(v, m * SubDim + 1, SubDim)

  test("native PQ argmin ≡ declarative array_min over l2q structs, ties included") {
    val s = spark
    import s.implicits._
    val rnd = new Random(91)
    val k = 8
    val cents = (1L to k.toLong).map(c =>
      (c, Seq.fill(SubDim)(math.floor(rnd.nextGaussian() * 1e6).toLong)))
    // random vectors PLUS exact copies of centroids (distance-0 rows)
    // and duplicated centroids under two cids (tie rows — the argmin
    // must break to the LOWEST cid in both spellings)
    val tieCents = cents :+ (9L, cents.head._2)
    val rows = (1L to 500L).map(i =>
      (i, Seq.fill(SubDim)(math.floor(rnd.nextGaussian() * 1e6).toLong))) ++
      cents.map { case (cid, c) => (100L + cid, c) }
    val df = rows.toDF("vec_id", "sq")
    val diff = df.select(
      argminDecl(col("sq"), tieCents).as("d"),
      argminNative(col("sq"), tieCents).as("n"))
      .filter(not(col("d") <=> col("n")))
    assert(diff.count() === 0,
      "every row's PQ argmin must match the declarative spelling")
  }

  test("native ADC LUT ≡ declarative l2q array, empty slots included") {
    val s = spark
    import s.implicits._
    val rnd = new Random(17)
    val pqk = 8
    // one sub-codebook per subspace, with one EMPTIED cid per subspace
    // (the never-read 0 slot)
    val model: Seq[Seq[(Long, Array[Long])]] = (0 until M).map { m =>
      (1L to pqk.toLong).filterNot(_ == (m % pqk) + 1L).map(cid =>
        (cid, Array.fill(SubDim)(math.floor(rnd.nextGaussian() * 1e6).toLong)))
    }
    def lutDecl(v: Column): Column =
      array((0 until M).flatMap { m =>
        val byCid = model(m).toMap
        (1 to pqk).map(cid => byCid.get(cid.toLong) match {
          case Some(c) => l2qDecl(subSlice(v, m), typedLit(c.toSeq))
          case None => lit(0L)
        })
      }: _*)
    def lutNative(v: Column): Column = {
      val flat: Seq[Seq[Long]] = (0 until M).flatMap { m =>
        val byCid = model(m).toMap
        (1 to pqk).map(cid => byCid.get(cid.toLong).fold(Seq.empty[Long])(_.toSeq))
      }
      call_function("graft_adc_lut", v, typedLit(flat), lit(SubDim))
    }
    val rows = (1L to 300L).map(i =>
      (i, Seq.fill(D)(math.floor(rnd.nextGaussian() * 1e6).toLong)))
    val df = rows.toDF("vec_id", "qv")
    val diff = df.select(lutDecl(col("qv")).as("d"), lutNative(col("qv")).as("n"))
      .filter(not(col("d") <=> col("n")))
    assert(diff.count() === 0,
      "every row's ADC LUT must match the declarative spelling slot-for-slot")
  }

  test("a subvector no centroid matches fails loudly, naming the widths") {
    val s = spark
    import s.implicits._
    val cents = Seq((1L, Seq.fill(SubDim)(0L)), (2L, Seq.fill(SubDim + 1)(5L)))
    val e = intercept[IllegalArgumentException] {
      graft.functions.expressions.PqArgmin.argmin(
        Array.fill(3)(1L), cents.map(_._2.toArray).toArray, cents.map(_._1).toArray)
    }
    assert(e.getMessage.contains("3-element") &&
      e.getMessage.contains(s"$SubDim, ${SubDim + 1}"), e.getMessage)
    // the same refusal through the registered function, not a code id
    val df = Seq(Tuple1(Seq.fill(3)(1L))).toDF("sq")
    val t = intercept[Exception](df.select(argminNative(col("sq"), cents)).collect())
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    assert(messages(t).exists(_.contains("no centroid matches the 3-element")),
      messages(t).mkString(" | "))
  }

  test("null elements null the row in both native loops") {
    val s = spark
    import s.implicits._
    val cents = Seq((1L, Seq.fill(SubDim)(0L)), (2L, Seq.fill(SubDim)(5L)))
    val vNull: Seq[Option[Long]] =
      Seq.tabulate(SubDim)(d => if (d == 2) None else Some(3L))
    val df = Seq(Tuple1(vNull)).toDF("sq")
      .select(col("sq").cast("array<bigint>").as("sq"))
    val got = df.select(
      argminNative(col("sq"), cents).as("a"),
      call_function("graft_adc_lut", col("sq"),
        typedLit(cents.map(_._2)), lit(SubDim)).as("l")).head()
    assert(got.isNullAt(0) && got.isNullAt(1),
      "null-element input must null the row (the CellTopK rule)")
  }
}
