package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Jaccard similarity of two SORTED, DISTINCT arrays via a linear merge —
  * O(|A|+|B|) with zero allocation, versus the composable
  * `array_intersect`/`array_union` pair which builds two hash sets per
  * row (it dominated the set-similarity verify stage ~5×). Accepts
  * `array<string>` or `array<bigint>` (hashed-shingle form — smaller
  * shuffle payloads and long compares on the hot path).
  * Value equals |A∩B| / (|A|+|B|-|A∩B|), identical to the DuckDB oracle's
  * `len(list_intersect)/len(list_distinct(list_concat))`.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"jaccard_sorted expects two ARRAY<STRING> or two ARRAY<BIGINT>, got " +
          s"(${left.dataType.sql}, ${right.dataType.sql})")
    }

  override def dataType: DataType = DoubleType

  private lazy val isLong = left.dataType == ArrayType(LongType, containsNull = false) ||
    left.dataType == ArrayType(LongType, containsNull = true)

  override def nullSafeEval(a: Any, b: Any): Any =
    if (isLong) JaccardSorted.jaccardLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else JaccardSorted.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (isLong)
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSorted.jaccardLong($a, $b)")
    else
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSorted.jaccard($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sorted"
}

object JaccardSorted {
  /** Typed Column builder (`jaccard_sorted` without the SQL registry). */
  def apply(a: Column, b: Column): Column =
    column(new JaccardSorted(expression(a), expression(b)))

  /** Merge-count intersection of two sorted distinct string arrays. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Same merge over sorted distinct long arrays (hashed shingles). */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }
}
