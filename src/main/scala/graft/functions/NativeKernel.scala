package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** The one native-kernel call: `owner.fn(inputs..., params...)` as
  * Spark's `StaticInvoke`.
  *
  * Whole-stage codegen emits the direct static call
  * (`graft.functions.MinhashSig.compute(hs, 4)`); interpreted eval, which
  * runs under a CodegenFallback parent such as a higher-order function,
  * invokes the same method by reflection. A null input gives a null
  * result (`propagateNull`, which also makes the call null-intolerant for
  * constraint inference); a kernel never returns null. Each input column
  * declares its type, so a mismatched input fails at analysis with
  * `DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE`. Array input types carry
  * `containsNull = true`: Catalyst infers nullable elements for join
  * outputs and HOF-composed arrays that never hold a null, so the kernels
  * accept them and refuse an actual null slot at the element read
  * ([[TextBytes.failNullSlot]]). Parameters are typed literals fixed at
  * construction; objects ride as `ObjectType` literals. */
private[graft] object NativeKernel {

  val LongsIn: DataType = ArrayType(LongType, containsNull = true)
  val LongsOut: DataType = ArrayType(LongType, containsNull = false)
  val StringsIn: DataType = ArrayType(StringType, containsNull = true)
  val StringsOut: DataType = ArrayType(StringType, containsNull = false)

  def apply(owner: AnyRef, out: DataType, inputs: Seq[(Column, DataType)],
            params: Seq[Literal] = Nil, fn: String = "compute"): Column =
    ColumnBridge.column(StaticInvoke(owner.getClass, out, fn,
      inputs.map(i => ColumnBridge.expression(i._1)) ++ params,
      inputs.map(_._2) ++ params.map(_.dataType),
      propagateNull = true, returnNullable = false))
}
