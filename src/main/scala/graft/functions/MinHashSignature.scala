package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** All `numHashes` MinHash values of a hashed shingle set (`array<bigint>`
  * from [[ShingleHashes]]) in one pass. The k-member family is
  * Carter-Wegman over the 64-bit shingle hash, h_j(x) = a_j·x + b_j with
  * fixed odd multipliers (the construction Spark's own MinHashLSH uses) —
  * per shingle that's k multiply-adds and no byte hashing at all, since
  * the input elements already carry the base hash. At 100 TB the
  * signature pass touches every shingle of every document, so this is
  * the difference between the stage being hash-bound and being
  * memory-bandwidth-bound. Replaces `numHashes` separate interpreted
  * `array_min(transform(...))` higher-order expressions. The linear
  * family is only approximately min-wise independent, which only nudges
  * LSH candidate recall (32 bands × 2 rows leaves orders of magnitude of
  * margin at J=0.5); the exact-Jaccard verify step makes the final
  * output independent of the hash family details.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects ARRAY<BIGINT> (hashed shingles), got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    MinHashSignature.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSignature.compute($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  /** Typed Column builder (`minhash_signature` without the SQL registry). */
  def apply(sh: Column, numHashes: Int): Column =
    column(new MinHashSignature(expression(sh), numHashes))

  /** Deterministic (a_j, b_j) family via splitmix64; a_j forced odd so the
    * multiply is a bijection on Z/2^64. Memoized per numHashes — the
    * generated code calls compute per row.
    */
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def coeffs(numHashes: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numHashes, k => {
      val as = new Array[Long](k)
      val bs = new Array[Long](k)
      var j = 0
      while (j < k) {
        as(j) = splitmix64(2L * j) | 1L
        bs(j) = splitmix64(2L * j + 1)
        j += 1
      }
      (as, bs)
    })

  def compute(shingleHashes: ArrayData, numHashes: Int): ArrayData = {
    val (as, bs) = coeffs(numHashes)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingleHashes.numElements()
    var i = 0
    while (i < n) {
      val h = shingleHashes.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = as(j) * h + bs(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
