package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd cosine similarity over two double-array columns.
  *
  * Why a custom Catalyst expression: Spark's higher-order functions
  * (`zip_with`, `aggregate`) evaluate interpreted — per-element lambda
  * dispatch with boxing — and sit outside whole-stage codegen. For
  * similarity search the kernel runs |corpus| × |queries| times, so at scale
  * the per-element overhead dominates. This expression compiles to a tight
  * primitive loop inside the generated code (SURVEY.md §4 listed exactly
  * this as the sanctioned perf upgrade).
  *
  * Semantics match [[VectorFunctions.cosine]] operation-for-operation
  * (sequential dot and norms, then dot / (sqrt(na) * sqrt(nb))), so results
  * are bit-identical to the interpreted fallback and to the DuckDB oracle.
  * Inputs must be equal-length; float arrays are implicitly cast to double.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType | FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) && left.dataType == right.dataType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine requires two array<double> (or array<float>) arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** Element accessor matching the (uniform) input element type. */
  private def isFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (isFloat) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val get = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$get($i);
         |  double $y = (double) $b.$get($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
