package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** `max_i |x_i|` of an `array<double>` as a Catalyst expression
  * ([[MaxAbsFold.maxAbs]]), seeded at 0.0 — the int8-quantization scale numerator in
  * [[graft.operators.Similarity.quantizeInt8]].
  *
  * Replaces `aggregate(emb, 0.0, (m, x) => greatest(m, abs(x)))` — an
  * interpreted per-element lambda per row; at embedding-corpus scale the
  * quantization pass is a pure scan and this fold was its per-row cost.
  * Arithmetic is op-identical to the old fold: ascending
  * `Math.max(m, Math.abs(x))` (Catalyst `Greatest` on non-null doubles is
  * `Math.max`, including the NaN-propagates and +0.0 > −0.0 orderings), so
  * results are bit-equal. Null contract, matching the old fold: null
  * array → null; null ELEMENTS are SKIPPED, not poisoning — the old fold's
  * accumulator carried through `greatest(m, abs(null)) = m`, and the
  * property test pins that behavior.
  */
case class MaxAbsFold(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "max_abs_fold"

  override protected def nullSafeEval(v: Any): Any =
    MaxAbsFold.maxAbs(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs =>
      s"${ev.value} = graft.functions.MaxAbsFold.maxAbs($xs);")

  override protected def withNewChildInternal(newChild: Expression): MaxAbsFold =
    copy(child = newChild)
}

object MaxAbsFold {
  /** `max_i |x_i|` seeded at 0.0, ascending, null elements skipped. */
  def maxAbs(xs: ArrayData): Double = {
    val len = xs.numElements()
    var m = 0.0
    var k = 0
    while (k < len) {
      // greatest(m, abs(null)) = m in the old fold — skip null elements
      if (!xs.isNullAt(k)) m = Math.max(m, Math.abs(xs.getDouble(k)))
      k += 1
    }
    m
  }

  /** Column-API entry: `MaxAbsFold(xs)`. Accepts any numeric array — cast
    * to `array<double>` here (a no-op when already double).
    */
  def apply(xs: Column): Column =
    ColumnBridge.column(MaxAbsFold(
      ColumnBridge.expression(xs.cast(ArrayType(DoubleType)))))
}
