package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct n-token shingles of a token array in one compiled pass.
  * Replaces `array_distinct(transform(sequence(...), i -> concat_ws(...)))`
  * — interpreted higher-order functions that dominated the dedup
  * pipelines' input stage (~6 s of a 7 s MinHash run at sf0.1).
  * Output order is first-occurrence, matching array_distinct semantics.
  */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingles expects ARRAY<STRING>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    Shingles.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Shingles.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)

  override def prettyName: String = "shingles"
}

object Shingles {
  /** Typed Column builder (`graft_shingles` without the SQL registry). */
  def apply(toks: Column, n: Int): Column =
    column(new Shingles(expression(toks), n))

  private val Space = UTF8String.fromString(" ")

  /** Null elements are skipped before windowing — identical semantics to
    * [[ShingleHashes.compute]], so `shingle_hashes(toks, n)` equals
    * `transform(shingles(toks, n), s -> xxhash64(s))` (up to sort/distinct)
    * even for null-containing arrays.
    */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val raw = toks.numElements()
    var nulls = 0
    var p = 0
    while (p < raw) { if (toks.isNullAt(p)) nulls += 1; p += 1 }
    val len = raw - nulls
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val tokArr =
      if (nulls == 0) null
      else {
        val a = new Array[UTF8String](len)
        var q = 0
        p = 0
        while (p < raw) {
          if (!toks.isNullAt(p)) { a(q) = toks.getUTF8String(p); q += 1 }
          p += 1
        }
        a
      }
    @inline def tok(i: Int): UTF8String =
      if (tokArr == null) toks.getUTF8String(i) else tokArr(i)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= len - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = tok(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
