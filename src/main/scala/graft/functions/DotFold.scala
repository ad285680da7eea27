package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fold-left dot product of two `array<double>` columns as a Catalyst
  * expression: `Σ a_i·b_i`, ascending accumulation ([[DotFold.dot]]).
  *
  * Replaces `aggregate(zip_with(a, b, _*_), 0.0, _+_)` in the ANN hot
  * loops (brute-force scan, IVF assignment/probe, LSH verify, embedding
  * near-dup, k-means distances run this per PAIR) — Spark's higher-order
  * functions evaluate their lambdas interpreted per element, the same
  * overhead [[EwmaFold]] removes for the indicator family. The arithmetic
  * is order- and op-identical (multiply per element, ascending sum), so
  * results are bit-equal to the fold it replaces — the cross-engine
  * oracles depend on those bits. `l2Norm(a)` = `sqrt(DotFold(a, a))`:
  * `x*x` then ascending sum is the same op sequence as the previous
  * single-array fold.
  *
  * Null contract, matching the old fold exactly: length mismatch → null
  * (zip_with pads the shorter side with null, nulling the sum), any null
  * element → null, two empty arrays → 0.0.
  */
case class DotFold(left: Expression, right: Expression)
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
  override def prettyName: String = "dot_fold"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (DotFold.defined(x, y)) DotFold.dot(x, y) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.isNull} = !graft.functions.DotFold.defined($a, $b); " +
        s"if (!${ev.isNull}) ${ev.value} = graft.functions.DotFold.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotFold =
    copy(left = newLeft, right = newRight)
}

object DotFold {
  /** The null contract shared with [[L2Fold]]: equal lengths and no null
    * element. A primitive `double` result cannot carry null, so generated
    * code asks this first and calls the arithmetic kernel only when it
    * holds.
    */
  def defined(a: ArrayData, b: ArrayData): Boolean = {
    val len = a.numElements()
    if (len != b.numElements()) return false
    var k = 0
    while (k < len) {
      if (a.isNullAt(k) || b.isNullAt(k)) return false
      k += 1
    }
    true
  }

  /** `Σ a_i·b_i`, ascending; both arrays [[defined]]. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val len = a.numElements()
    var s = 0.0
    var k = 0
    while (k < len) {
      s += a.getDouble(k) * b.getDouble(k)
      k += 1
    }
    s
  }

  /** Column-API entry: `DotFold(a, b)`. Accepts any numeric array — cast
    * to `array<double>` here (a no-op when already double), matching the
    * implicit coercion the old `aggregate(zip_with(...))` fold performed.
    */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(DotFold(
      ColumnBridge.expression(a.cast(ArrayType(DoubleType))),
      ColumnBridge.expression(b.cast(ArrayType(DoubleType)))))
}
