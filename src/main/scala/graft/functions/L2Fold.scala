package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fold-left squared L2 distance of two `array<double>` columns as a
  * Catalyst expression: `Σ (a_i−b_i)²`, ascending accumulation
  * ([[L2Fold.l2]]).
  *
  * Replaces `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` in
  * the k-means assignment hot loop ([[graft.operators.Similarity.kMeans]]
  * runs it k times per corpus row per Lloyd iteration) — Spark's
  * higher-order functions evaluate their lambdas interpreted per element,
  * the same overhead [[DotFold]] removes for the ANN dot products. The
  * arithmetic is ORDER- and OP-IDENTICAL to the interpreted fold it
  * replaces: subtract, square via self-multiply, ascending sum —
  * deliberately NOT the `|a|²−2a·b+|b|²` identity, which would move FP bits
  * and with them the argmin tie-breaks that Lloyd's determinism pins.
  *
  * Null contract, matching the old fold exactly: length mismatch → null
  * (zip_with pads the shorter side with null, nulling the sum), any null
  * element → null, two empty arrays → 0.0.
  */
case class L2Fold(left: Expression, right: Expression)
  extends BinaryExpression {

  // Inputs must be (array<double>, array<double>) — enforced at analysis
  // time (unsafe ArrayData.getDouble would otherwise reinterpret the bits
  // of an array<float>/array<int> input silently). The Column-API `apply`
  // additionally casts, so callers may pass any numeric array.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "l2_fold"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (DotFold.defined(x, y)) L2Fold.l2(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.DotFold.defined($a, $b); " +
        s"if (!${ev.isNull}) ${ev.value} = graft.functions.L2Fold.l2($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Fold =
    copy(left = newLeft, right = newRight)
}

object L2Fold {
  /** `Σ (a_i−b_i)²`, ascending; both arrays [[DotFold.defined]]. */
  def l2(a: ArrayData, b: ArrayData): Double = {
    val len = a.numElements()
    var s = 0.0
    var k = 0
    while (k < len) {
      val d = a.getDouble(k) - b.getDouble(k)
      s += d * d
      k += 1
    }
    s
  }

  /** Column-API entry: `L2Fold(a, b)`. Accepts any numeric array — cast
    * to `array<double>` here (a no-op when already double), matching the
    * implicit coercion the old `aggregate(zip_with(...))` fold performed.
    */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(L2Fold(
      ColumnBridge.expression(a.cast(ArrayType(DoubleType))),
      ColumnBridge.expression(b.cast(ArrayType(DoubleType)))))
}
