package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** Sorted distinct xxhash64 values of a token array's n-shingles, in one
  * compiled pass that never materializes the shingle strings: each
  * window's token bytes are copied into one reusable buffer (space-joined,
  * exactly the bytes `concat_ws(' ', ...)` would produce) and hashed with
  * Spark's xxhash64 seed (42), so the output equals
  * `array_sort(array_distinct(transform(shingles(toks,n), s -> xxhash64(s))))`
  * while doing zero per-shingle allocation.
  *
  * This is the dedup pipelines' canonical shingle representation: the
  * LSH/minhash, inverted-index, and exact-Jaccard-verify stages all
  * consume hashes, so at 100 TB the hashed form ships ~8 bytes per
  * shingle through every shuffle and cache instead of the ~25-byte
  * string, and the verify merge compares longs. The string form
  * ([[Shingles]]) remains for operators that must show the n-gram text.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects ARRAY<STRING>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    ShingleHashes.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {
  /** Typed Column builder (`shingle_hashes` without the SQL registry). */
  def apply(toks: Column, n: Int): Column =
    column(new ShingleHashes(expression(toks), n))

  /** Seed of Spark's `xxhash64` SQL function — keeps hashed shingles
    * join-compatible with any `xxhash64(shingle_string)` column.
    */
  private val SparkXxhashSeed = 42L

  /** Null elements are skipped — the shingling runs over the non-null
    * tokens exactly as if `filter(toks, t -> t IS NOT NULL)` had been
    * applied first (the type check accepts `containsNull = true`, so a
    * user-supplied `transform(...)` result must not NPE the kernel).
    */
  def compute(toks: ArrayData, n: Int): ArrayData = {
    val raw = toks.numElements()
    var nulls = 0
    var p = 0
    while (p < raw) { if (toks.isNullAt(p)) nulls += 1; p += 1 }
    // Null-free arrays (the overwhelming case) index the ArrayData
    // directly — no UTF8String[] materialization, zero per-row garbage.
    val tokArr =
      if (nulls == 0) null
      else {
        val a = new Array[org.apache.spark.unsafe.types.UTF8String](raw - nulls)
        var q = 0
        p = 0
        while (p < raw) {
          if (!toks.isNullAt(p)) { a(q) = toks.getUTF8String(p); q += 1 }
          p += 1
        }
        a
      }
    @inline def tok(i: Int): org.apache.spark.unsafe.types.UTF8String =
      if (tokArr == null) toks.getUTF8String(i) else tokArr(i)
    val len = raw - nulls
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val m = len - n + 1
    val hashes = new Array[Long](m)
    var buf = new Array[Byte](128)
    var i = 0
    while (i < m) {
      var need = n - 1 // separator spaces
      var j = 0
      while (j < n) { need += tok(i + j).numBytes(); j += 1 }
      // highestOneBit<<1 overflows negative for need >= 2^30; max() clamps.
      if (buf.length < need)
        buf = new Array[Byte](math.max(need, java.lang.Integer.highestOneBit(need) << 1))
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val s = tok(i + j)
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += s.numBytes()
        j += 1
      }
      hashes(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, off, SparkXxhashSeed)
      i += 1
    }
    java.util.Arrays.sort(hashes)
    var w = 1
    var k = 1
    while (k < m) {
      if (hashes(k) != hashes(w - 1)) { hashes(w) = hashes(k); w += 1 }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (w == m) hashes else java.util.Arrays.copyOf(hashes, w))
  }
}
