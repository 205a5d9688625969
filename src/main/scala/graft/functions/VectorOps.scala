package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns.
  *
  * Exists because the composable form — `aggregate(zip_with(a, b, *), +)`
  * — runs as interpreted higher-order functions (per-pair closure calls
  * and array allocations), which dominated similarity benchmarks ~40×.
  * This expression is one codegen'd static call doing a primitive loop.
  * The accumulation order is the same sequential left fold, so results
  * are bit-identical to the HOF form and to DuckDB's list_dot_product.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_arr expects (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.DotProduct.dot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_arr"
}

object DotProduct {
  /** Typed Column builder (`dot_arr` without the SQL registry). */
  def apply(a: Column, b: Column): Column =
    column(new DotProduct(expression(a), expression(b)))

  /** Shared by interpreted and generated code; sequential fold order. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }
}
