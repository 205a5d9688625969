package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftRelationalBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** All `bands` sign-random-projection (hyperplane LSH) band codes of an
  * `array<double>` vector in one codegen'd pass.
  *
  * Each of the `bands × bitsPerBand` hyperplanes is a deterministic
  * Rademacher (±1) direction derived from a splitmix-style integer mix of
  * (plane, dim) — no RNG state, identical across runs, sessions, and
  * engines. Bit i of band b is `dot(v, h_{b·bits+i}) > 0`; the emitted
  * code is band-tagged (`band * 2^bitsPerBand + code`) so a single-column
  * equi join on the exploded codes is exactly the per-band bucket join.
  *
  * The dot accumulates left-to-right from 0.0 (same fold order as
  * [[DotProduct]]), and multiplying by ±1.0 is exact, so the sign
  * decisions — and therefore the candidate sets — are bit-identical to a
  * DuckDB oracle that mirrors the same fold (see the `q_dedup_embedding`
  * oracle generator). Replaces `bands × bitsPerBand` separate `dot_arr`
  * calls against 64-element literal arrays: one expression, one plan
  * node, one primitive loop per row — at 100 TB the banding pass touches
  * every vector, so it must stay inside whole-stage codegen.
  */
case class SrpBands(child: Expression, bands: Int, bitsPerBand: Int)
    extends UnaryExpression {
  require(bands > 0, s"srp_bands needs at least one band, got $bands")
  require(bitsPerBand > 0 && bitsPerBand <= 32,
    s"srp_bands bitsPerBand out of range (1..32): $bitsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"srp_bands expects ARRAY<DOUBLE>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    SrpBands.compute(v.asInstanceOf[ArrayData], bands, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SrpBands.compute($c, $bands, $bitsPerBand)")

  override protected def withNewChildInternal(newChild: Expression): SrpBands =
    copy(child = newChild)

  override def prettyName: String = "srp_bands"
}

object SrpBands {
  /** Typed Column builder (`srp_bands` without the SQL registry). */
  def apply(v: Column, bands: Int, bitsPerBand: Int): Column =
    column(new SrpBands(expression(v), bands, bitsPerBand))

  /** Sign of hyperplane `plane` at dimension `dim`: true ⇒ +1, false ⇒ −1.
    * Public so oracle generators can mirror the exact same planes.
    */
  def positive(plane: Int, dim: Int): Boolean = {
    var z = plane.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
    z ^= (z >>> 31); z *= 0x94D049BB133111EBL; z ^= (z >>> 27)
    (z & 1L) == 0L
  }

  /** Flattened ±1 plane matrix, memoized per (plane count, dims) — the
    * generated code calls compute per row.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Double]]()

  private def planes(nPlanes: Int, dims: Int): Array[Double] =
    planeCache.computeIfAbsent((nPlanes.toLong << 32) | dims.toLong, _ => {
      val h = new Array[Double](nPlanes * dims)
      var p = 0
      while (p < nPlanes) {
        var j = 0
        while (j < dims) {
          h(p * dims + j) = if (positive(p, j)) 1.0 else -1.0
          j += 1
        }
        p += 1
      }
      h
    })

  def compute(vec: ArrayData, bands: Int, bits: Int): ArrayData = {
    val dims = vec.numElements()
    val h = planes(bands * bits, dims)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var code = 0L
      var i = 0
      while (i < bits) {
        val off = (b * bits + i) * dims
        var acc = 0.0
        var j = 0
        while (j < dims) {
          acc += vec.getDouble(j) * h(off + j)
          j += 1
        }
        if (acc > 0) code |= (1L << i)
        i += 1
      }
      out(b) = b.toLong * (1L << bits) + code
      b += 1
    }
    new GenericArrayData(out)
  }
}
