package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native cosine similarity between two float/double array columns:
  * `dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b)))`, all three sums as
  * left folds in double over element index — the exact value a
  * declarative `aggregate(zip_with(...))` fold (ExpressionsSpec checks
  * it bit for bit) and DuckDB's list_dot_product produce, so oracle
  * comparisons stay bit-identical.
  *
  * Why custom: the declarative fold is an interpreted higher-order
  * function (disastrous inside O(n²) pair joins), and the unrolled
  * alternative hardcodes the dimensionality into a 64-term expression
  * tree. This is one codegen'd loop, any dimension, three accumulators
  * in registers.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elemType(left), elemType(right)) match {
      case (Some(_), Some(_)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine expects array<float|double> args, got " +
          s"${left.dataType.simpleString(5)}, ${right.dataType.simpleString(5)}")
    }

  private def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case _ => throw new IllegalStateException
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (la, ra) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (lt, rt) = (elemType(left).get, elemType(right).get)
    // dimension mismatch → NULL, matching the declarative zip_with fold
    // (null-padded product nulls the whole sum) instead of silently
    // scoring a truncated dot product
    if (la.numElements() != ra.numElements()) return null
    val n = la.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(la, i, lt); val y = get(ra, i, rt)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (elemType(left).get == FloatType) "getFloat" else "getDouble"
    val getB = if (elemType(right).get == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = (double) $a.$getA($i);
         |    final double $y = (double) $b.$getB($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}
