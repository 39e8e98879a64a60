package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two vectors
  * (`array<float>` or `array<double>`, independently per side — the
  * double side exists for decoded-int8 candidate scoring, where the
  * reconstruction is exact double arithmetic).
  *
  * The composable formulation (zip_with + aggregate, see
  * [[graft.operators.Similarity.cosine]]) allocates an intermediate
  * array and walks interpreted lambdas per element — fine for occasional
  * use, but the ANN operators evaluate this once per (query, candidate)
  * pair, which at 100 TB is the single hottest loop in the engine. This
  * expression generates a fused primitive loop (doGenCode) with no
  * allocation; the interpreted path (nullSafeEval) computes identically.
  *
  * Accumulation is double-precision in index order — the exact evaluation
  * order of the composable version and of DuckDB's
  * list_cosine_similarity, so all three agree bit-for-bit. The three
  * accumulators (dot, |a|^2, |b|^2) are each an independent index-order
  * fold, so one fused loop equals three separate list_sum folds.
  *
  * A hand-built expression, not a [[NativeKernel]] call: it emits the
  * fused loop inline, and [[graft.catalyst.GraftExtensions]] registers it
  * for SQL by class.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<float>/array<double> inputs, got " +
      s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  @transient private lazy val leftIsFloat =
    elemType(left.dataType).contains(FloatType)
  @transient private lazy val rightIsFloat =
    elemType(right.dataType).contains(FloatType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // null slot would read garbage — fail loudly (TextBytes.failNullSlot
      // policy); isNullAt is a bitmap word load, branch-predicted free
      if (a.isNullAt(i)) TextBytes.failNullSlot("cosine_similarity.left", i)
      if (b.isNullAt(i)) TextBytes.failNullSlot("cosine_similarity.right", i)
      val x = if (leftIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightIsFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def get(arr: String, isFloat: Boolean) =
        if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) {
            throw new IllegalArgumentException(
              "cosine_similarity: null array element at index " + $i +
              " - null-filter the embedding column first");
          }
          double $x = ${get(a, leftIsFloat)};
          double $y = ${get(b, rightIsFloat)};
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.graftbridge.ColumnBridge
  /** Column-API entry point. */
  def cosineNative(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
