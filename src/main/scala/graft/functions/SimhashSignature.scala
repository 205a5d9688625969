package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** The 4×16-bit simhash chunks of a token array in one pass: per token an
  * md5 digest, its first 8 bytes read as four big-endian 16-bit chunk
  * values (exactly `('0x'||substr(md5(tok),1+4c,4))::INT` — the DuckDB
  * oracle's construction), each bit voting ±1 into 64 counters; the sign
  * pattern is packed back into 4 ints. Replaces the explode + 64-column
  * groupBy-sum formulation — same bits, no shuffle, digests computed in
  * a tight loop instead of per-row expression trees.
  */
case class SimhashSignature(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_signature expects ARRAY<STRING>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SimhashSignature.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimhashSignature.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimhashSignature =
    copy(child = newChild)

  override def prettyName: String = "simhash_signature"
}

object SimhashSignature {
  /** Typed Column builder (`simhash_signature` without the SQL registry). */
  def apply(toks: Column): Column =
    column(new SimhashSignature(expression(toks)))

  def compute(toks: ArrayData): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val sums = new Array[Int](64)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val digest = md.digest(toks.getUTF8String(i).getBytes)
      var c = 0
      while (c < 4) {
        val v = ((digest(2 * c) & 0xff) << 8) | (digest(2 * c + 1) & 0xff)
        var k = 0
        while (k < 16) {
          sums(16 * c + k) += (((v >> k) & 1) << 1) - 1
          k += 1
        }
        c += 1
      }
      i += 1
    }
    val chunks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var acc = 0
      var k = 0
      while (k < 16) {
        if (sums(16 * c + k) > 0) acc |= 1 << k
        k += 1
      }
      chunks(c) = acc
      c += 1
    }
    new GenericArrayData(chunks)
  }
}
