package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd squared L2 distance over two double-array columns — the
  * k-means / PQ assignment kernel (see [[graft.operators.Similarity]]).
  *
  * Why native and not the `zip_with`+`aggregate` HOF form: the quantizer
  * evaluates this once per (row, centroid), and the HOF form pays per-element
  * interpreted lambda dispatch AND blows the expression tree up to
  * k × dim inlined literal nodes — at k=8, dim=64 that tree spent ~10 s
  * in analysis/codegen per assignment pass before touching a row. As a binary expression the centroid argument constant-folds to a
  * single array literal and the loop compiles tight.
  *
  * Semantics match [[VectorFunctions.distSq]] operation-for-operation — a
  * sequential fold of (x-y)² — so results are bit-identical to the
  * interpreted fallback (asserted in DedupSimilaritySpec). */
case class L2Squared(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  override def checkInputDataTypes(): TypeCheckResult = {
    // element types must agree; containsNull may differ (a lambda-bound
    // array and a folded literal disagree on nullability for the same data)
    def elem(t: DataType): Option[DataType] = t match {
      case ArrayType(e @ (DoubleType | FloatType), _) => Some(e)
      case _ => None
    }
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(a), Some(b)) if a == b => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_l2sq requires two array<double> (or array<float>) arguments, " +
          s"got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (isFloat) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xi - yi
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val acc = ctx.freshName("acc"); val d = ctx.freshName("d")
      val get = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = (double) $a.$get($i) - (double) $b.$get($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
