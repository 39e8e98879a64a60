package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: ALL sign-LSH band buckets of an embedding
  * in one pass — `array<long>`, band j's bucket = OR over its
  * `planesPerBand` hyperplanes of `(dot(v, plane) >= 0) << bit`.
  *
  * Replaces the composable [[graft.operators.Similarity]] formulation,
  * where every (band, bit) hyperplane dot was its own interpreted
  * `aggregate(zip_with(...))` fold — bands*ppb*dim interpreted multiply
  * -adds per row, flagged in-source as the dominant cost of
  * `lshCosinePairs`. The plane matrix rides the plan as a codegen
  * reference object (still derived from the portable md5-56 formula, so
  * the DuckDB oracle replays identical buckets). Value-exact (pinned by
  * ShingleSigsPropertySpec): each dot accumulates float-cast-to-double
  * products in strict index order, and the >= 0 sign test and bit
  * layout match the composable column exactly. Callers guard
  * dimensionality with requireDim; a mismatched vector here throws
  * rather than silently null-padding like zip_with would.
  *
  * A hand-built expression, not a [[NativeKernel]] call: it picks float or
  * double reads from the resolved child type, which a construction-time
  * literal cannot know.
  */
case class LshBuckets(child: Expression, planes: Array[Array[Double]], ppb: Int)
    extends UnaryExpression {
  require(ppb >= 1 && planes.length % ppb == 0,
    s"planes (${planes.length}) must be a multiple of planesPerBand ($ppb)")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets expects array<float|double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(input: Any): Any =
    LshBuckets.compute(input.asInstanceOf[ArrayData], planes, ppb, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshBuckets.compute($c, $pl, $ppb, $isFloat);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Shared by interpreted eval and generated code. */
  def compute(vec: ArrayData, planes: Array[Array[Double]], ppb: Int,
              isFloat: Boolean): GenericArrayData = {
    val dim = planes(0).length
    require(vec.numElements() == dim,
      s"lsh_buckets: vector length ${vec.numElements()} != plane dim $dim")
    // one pre-scan, cheap vs the bands*ppb*dim fold
    TextBytes.requireNoNullSlots("lsh_buckets", vec)
    val bands = planes.length / ppb
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var bucket = 0L
      var j = 0
      while (j < ppb) {
        val plane = planes(b * ppb + j)
        var acc = 0.0
        var d = 0
        while (d < dim) {
          val v = if (isFloat) vec.getFloat(d).toDouble else vec.getDouble(d)
          acc += v * plane(d)
          d += 1
        }
        if (acc >= 0) bucket |= 1L << j
        j += 1
      }
      out(b) = bucket
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point. */
  def lshBuckets(vec: Column, planes: Array[Array[Double]], ppb: Int): Column =
    ColumnBridge.column(LshBuckets(ColumnBridge.expression(vec), planes, ppb))
}
