package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Finite-history adjusted EWMA of a frame-ordered value array (oldest →
  * newest): `Σ x_i·α^(len−1−i) / ((1−α^len)/(1−α))`, ascending
  * accumulation of `x · Math.pow(α, age)` with a closed-form denominator —
  * the arithmetic of the interpreted `aggregate(zip_with(...))` fold the
  * indicator family once ran, whose exact bits the DuckDB oracles pin.
  *
  * Only FoldExprSpec uses it, as the independent reference that
  * [[EwmaWindowAgg]] (which the operators run) is checked against, so it
  * is evaluated interpreted ([[CodegenFallback]]) and its loop is kept
  * apart from the aggregate's.
  *
  * Null contract, matching the old fold: empty array or any null element →
  * null (collect_list never produces either, but the contract is kept
  * total).
  */
case class EwmaFold(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  // Inputs must be (array<double>, double α ∈ (0,1)) — enforced at
  // analysis time (unsafe ArrayData.getDouble would otherwise reinterpret
  // the bits of an array<float>/array<int> input silently). The Column-API
  // `apply` additionally casts, so callers may pass any numeric array.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, double), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "ewma_fold"

  override protected def nullSafeEval(xsAny: Any, alphaAny: Any): Any = {
    val xs = xsAny.asInstanceOf[ArrayData]
    val alpha = alphaAny.asInstanceOf[Double]
    val len = xs.numElements()
    if (len == 0) return null
    var num = 0.0
    var k = 0
    while (k < len) {
      if (xs.isNullAt(k)) return null
      num += xs.getDouble(k) * math.pow(alpha, (len - 1 - k).toDouble)
      k += 1
    }
    num / ((1.0 - math.pow(alpha, len.toDouble)) / (1.0 - alpha))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EwmaFold =
    copy(left = newLeft, right = newRight)
}

object EwmaFold {
  /** Column-API entry: `EwmaFold(xs, alpha)`. Accepts any numeric array /
    * numeric α — cast here (a no-op when already double), matching the
    * implicit coercion the old `aggregate(...)` fold performed.
    */
  def apply(xs: Column, alpha: Column): Column =
    ColumnBridge.column(EwmaFold(
      ColumnBridge.expression(xs.cast(ArrayType(DoubleType))),
      ColumnBridge.expression(alpha.cast(DoubleType))))
}
