package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: PQ encoding — the `m` subspace codes of a
  * float vector in one pass, `array<int>`.
  *
  * Replaces [[graft.operators.Quantization.encodePq]]'s composable form:
  * per subspace an array of k structs, each holding an interpreted
  * zip_with/aggregate squared-L2 fold, reduced with array_min — m*k
  * interpreted HOF folds and m struct-array materializations per row
  * (it runs per CORPUS row in pq_topk/ivfpq and per row per Lloyd
  * iteration in trainPq). Value-exact (pinned by
  * ShingleSigsPropertySpec): distances accumulate in strict index order
  * as (v_d - c_d)^2 double sums, and the argmin resolves ties to the
  * LOWEST code exactly like array_min over (distance, code) structs.
  *
  * A hand-built expression, not a [[NativeKernel]] call: it picks float or
  * double reads from the resolved child type, which a construction-time
  * literal cannot know.
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {
  private val dim = codebooks.length * codebooks(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    PqOps.pqEncode(input.asInstanceOf[ArrayData], codebooks, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PqOps.pqEncode($c, $cb, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

object PqOps {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Shared by interpreted eval and generated code. */
  def pqEncode(vec: ArrayData, cb: Array[Array[Array[Double]]],
               isFloat: Boolean): GenericArrayData = {
    val m = cb.length
    val dsub = cb(0)(0).length
    require(vec.numElements() == m * dsub,
      s"pq_encode: vector length ${vec.numElements()} != ${m * dsub}")
    // one pre-scan, cheap vs the m*k*dsub fold below
    TextBytes.requireNoNullSlots("pq_encode", vec)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val base = s * dsub
      val codes = cb(s)
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < codes.length) {
        val c = codes(j)
        var d = 0.0
        var t = 0
        while (t < dsub) {
          val v = if (isFloat) vec.getFloat(base + t).toDouble
                  else vec.getDouble(base + t)
          val diff = v - c(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = j } // strict <: ties keep lowest j
        j += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  def adcFold(codes: ArrayData, lut: ArrayData, k: Int): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) TextBytes.failNullSlot("adc_fold.codes", s)
      val idx = s * k + codes.getInt(s)
      if (lut.isNullAt(idx)) TextBytes.failNullSlot("adc_fold.lut", idx)
      acc += lut.getDouble(idx)
      s += 1
    }
    acc
  }

  /** Column-API entry point. */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), codebooks))

  /** The ADC fold — sum over subspaces s of `lut[s*k + codes[s]]`, the
    * per-pair half of PQ-ADC scoring.
    *
    * Replaces an interpreted `aggregate(zip_with(codes, sequence(...)))`
    * that ran per CANDIDATE PAIR. Strict index-order double sum, exactly
    * the composable fold. A null code or LUT slot fails loudly. */
  def adcFold(codes: Column, lut: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1, got $k")
    NativeKernel(this, DoubleType, Seq(codes -> ArrayType(IntegerType, containsNull = true),
      lut -> ArrayType(DoubleType, containsNull = true)), Seq(Literal(k)), fn = "adcFold")
  }
}
