package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** PQ sub-codebook argmin as ONE native loop — `graft_pq_argmin`: the
  * integer L2² of an `array<bigint>` subvector against every centroid
  * of a literal sub-codebook, returning the code id of the smallest
  * distance (ties to the lowest code id).
  *
  * Semantics are EXACTLY the declarative chain it replaces
  * (SimilarityQueries.pqAssignExpr): `array_min` over K
  * `struct(aggregate(zip_with(sq, cᵢ, (x,y) ⇒ (x−y)²), 0L, +), cidᵢ)`
  * structs — same exact Long arithmetic (components bounded by
  * 2·QuantScale keep every term and the 16-term sum far below 2⁶³, so
  * wrap semantics never differ), same (distance ASC, cid ASC)
  * lexicographic tie-break. PqArgminSpec pins bit-equality against the
  * declarative spelling on randomized inputs.
  *
  * Why custom (round 19, guide §1.2 step 2 / §4.1): `zip_with` and
  * `aggregate` are higher-order functions that evaluate INTERPRETED —
  * a lambda dispatch per element — and the PQ family runs this argmin
  * n·M·K times per model build/encode (profiled: the one-iteration
  * trainer job held ~24 s of run time at sf0.1; the code-table build
  * was the `build:sim.pq_codes` wall). The native loop is the same
  * arithmetic in codegen'd Java; like [[CellTopK]], the codebook rides
  * as reference-object constructor data, so the expression tree is
  * O(1) in K and whole-stage codegen never falls back.
  *
  * Degenerate-input rules (the [[CellTopK]] discipline): a null
  * ELEMENT nulls the row (the declarative fold would instead propagate
  * a null distance into every struct and tie-break purely by cid —
  * never reachable from the quantized corpus, whose elements are
  * non-null by construction; divergence documented here); a
  * dimension-mismatched centroid is skipped (declarative: null
  * distance — same unreachable-by-construction class, both sides are
  * [[graft.operators.SimilarityQueries.PqSubDim]]-wide), and a
  * subvector that NO centroid matches fails the task loudly rather
  * than return a sentinel code id.
  */
case class PqArgmin(child: Expression,
                    cids: Array[Long],
                    cents: Array[Array[Long]])
    extends UnaryExpression {

  require(cids.length == cents.length,
    s"cids (${cids.length}) and cents (${cents.length}) must align")
  require(cids.nonEmpty, "empty codebook")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pq_argmin expects an array<bigint> subvector, got ${other.simpleString(5)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    PqArgmin.argmin(arr.toLongArray(), cents, cids)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "long[][]")
    val cidsRef = ctx.addReferenceObj("cids", cids, "long[]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hasNull = ctx.freshName("hasNull")
      val cls = PqArgmin.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |final int $n = $a.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $hasNull = true; break; }
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $cls.argmin($a.toLongArray(), $centsRef, $cidsRef);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgmin =
    copy(child = newChild)

  override def prettyName: String = "graft_pq_argmin"
}

object PqArgmin {

  /** Unpack the codebook literal (`array<array<bigint>>`) once at plan
    * build — the [[CellTopK.literalCents]] rule. */
  def literalCentsL(l: org.apache.spark.sql.catalyst.expressions.Literal): Array[Array[Long]] =
    l.value.asInstanceOf[ArrayData].toArray[ArrayData](
      ArrayType(LongType)).map(_.toLongArray())

  /** The argmin loop: exact integer L2² per centroid, smallest distance
    * wins, ties to the lowest code id. Throws when no centroid has the
    * subvector's length. Public so generated code can call it.
    */
  def argmin(x: Array[Long], cents: Array[Array[Long]], cids: Array[Long]): Long = {
    var best = Long.MaxValue
    var bestId = Long.MaxValue
    var found = false
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      if (cent.length == x.length) {
        var d = 0L
        var i = 0
        while (i < x.length) { val t = x(i) - cent(i); d += t * t; i += 1 }
        val cid = cids(c)
        if (!found || d < best || (d == best && cid < bestId)) {
          best = d; bestId = cid; found = true
        }
      }
      c += 1
    }
    if (!found) throw new IllegalArgumentException(
      s"graft_pq_argmin: no centroid matches the ${x.length}-element " +
        s"subvector (codebook widths: ${cents.map(_.length).distinct.sorted.mkString(", ")})")
    bestId
  }
}

/** The per-query ADC lookup table as ONE native loop —
  * `graft_adc_lut`: all M×K integer L2² terms between a full
  * `array<bigint>` vector's subvectors and a flat literal codebook,
  * laid out exactly as [[graft.operators.SimilarityQueries]]'s
  * declarative `adcLut` array (subspace m's code cid at 0-based index
  * m·K + cid − 1; a cid whose cluster emptied during Lloyd holds a
  * never-read 0 slot, passed here as an EMPTY centroid).
  *
  * Same rationale and degenerate-input rules as [[PqArgmin]] — the
  * declarative form evaluated M·K interpreted `zip_with`/`aggregate`
  * folds per probe row, the profiled serial wall of every PQ probe
  * side; AdcLutSpec pins bit-equality against that spelling.
  */
case class AdcLut(child: Expression,
                  flatCents: Array[Array[Long]],
                  subDim: Int,
                  m: Int)
    extends UnaryExpression {

  require(flatCents.nonEmpty, "empty codebook")
  require(subDim >= 1, s"subDim must be >= 1, got $subDim")
  require(m >= 1 && flatCents.length % m == 0,
    s"graft_adc_lut: ${flatCents.length} codebook slots do not split into M=$m subspaces")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_adc_lut expects an array<bigint> vector, got ${other.simpleString(5)}")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      AdcLut.lut(arr.toLongArray(), flatCents, subDim, m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("flatCents", flatCents, "long[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val hasNull = ctx.freshName("hasNull")
      val cls = AdcLut.getClass.getName.stripSuffix("$") + "$.MODULE$"
      s"""
         |final int $n = $a.numElements();
         |boolean $hasNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { $hasNull = true; break; }
         |}
         |if ($hasNull) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |    $cls.lut($a.toLongArray(), $centsRef, $subDim, $m));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): AdcLut =
    copy(child = newChild)

  override def prettyName: String = "graft_adc_lut"
}

object AdcLut {

  /** The LUT loop over `m` subspaces laid out m-major: slot j covers
    * subspace j / K (K = slots / m), whose subvector starts at
    * (j / K) · subDim. Throws unless the vector is exactly m·subDim
    * long — a vector of another width would otherwise get a mis-laid
    * table. An empty centroid (emptied Lloyd cluster) yields the
    * declarative form's 0 slot. Public so generated code can call it.
    */
  def lut(x: Array[Long], flatCents: Array[Array[Long]], subDim: Int, m: Int): Array[Long] = {
    if (x.length != m * subDim) throw new IllegalArgumentException(
      s"graft_adc_lut: the ${x.length}-element vector is not M=$m subspaces " +
        s"of $subDim (${m * subDim} elements)")
    val slots = flatCents.length
    val perSub = slots / m
    val out = new Array[Long](slots)
    var j = 0
    while (j < slots) {
      val cent = flatCents(j)
      val off = (j / perSub) * subDim
      if (cent.length == subDim) {
        var d = 0L
        var i = 0
        while (i < subDim) { val t = x(off + i) - cent(i); d += t * t; i += 1 }
        out(j) = d
      } // else keep 0 (the declarative form's never-read slot)
      j += 1
    }
    out
  }
}
