package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Pearson correlation of two time-aligned series, as a single Catalyst
  * expression ([[PearsonAligned.pearson]]).
  *
  * Inputs: `(tsA, retA, tsB, retB)` — two series as parallel arrays, each
  * sorted ascending by timestamp (`array<long>` micros + `array<double>`
  * values). Output: `struct<r: double, n: bigint>` where `n` is the number of
  * timestamp-aligned points (two-pointer merge — only observations present in
  * BOTH series at the same instant are correlated, exactly like an equi-join
  * on (window, ts) followed by `corr`) and `r` is the Pearson estimate over
  * those points: two-pass mean-centered co-moments, clamped to [-1, 1], NaN
  * when n < 2 or either aligned variance is zero — matching commons-math
  * `PearsonsCorrelation` semantics used by the reference
  * (`ComputeCorrelationsDoFn.java:161-199`).
  *
  * Why an expression and not built-in `corr`: computing all-pairs correlation
  * via point-level self-join + `corr` groupBy shuffles O(windows · keys² ·
  * points) rows; with this expression the pair join happens on compact
  * per-(window, key) array rows and the correlation is evaluated inline in
  * whole-stage codegen — no post-join shuffle at all (see
  * [[graft.operators.Correlations]] scale notes).
  */
case class PearsonAligned(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
  extends QuaternaryExpression {

  // Inputs must be (array<long>, array<double>, array<long>, array<double>),
  // each pair sorted ascending by the long timestamp. Constructed only by
  // [[graft.operators.Correlations]], which guarantees the shapes
  // (`ExpectsInputTypes`' AbstractDataType is private[sql], so the contract
  // is documented rather than declared).
  override def dataType: DataType = PearsonAligned.OutType

  override def prettyName: String = "pearson_aligned"

  override protected def nullSafeEval(ta: Any, ra: Any, tb: Any, rb: Any): Any =
    PearsonAligned.pearson(ta.asInstanceOf[ArrayData], ra.asInstanceOf[ArrayData],
      tb.asInstanceOf[ArrayData], rb.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (ta, ra, tb, rb) =>
      s"${ev.value} = graft.functions.PearsonAligned.pearson($ta, $ra, $tb, $rb);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PearsonAligned =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object PearsonAligned {
  val OutType: StructType = StructType(Seq(
    StructField("r", DoubleType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** The `(r, n)` row of two aligned series (see [[PearsonAligned]]). */
  def pearson(tsA: ArrayData, reA: ArrayData, tsB: ArrayData,
      reB: ArrayData): InternalRow = {
    val lenA = tsA.numElements(); val lenB = tsB.numElements()
    var i = 0; var j = 0; var n = 0L
    var sx = 0.0; var sy = 0.0
    // Pass 1 tracks the aligned min/max of each side: a constant aligned
    // subset (the dominant case under carry-forward gap fill — quiet windows
    // make most return series all-zero) has zero variance and correlates NaN,
    // so pass 2 can be skipped entirely. Strictly stronger than pruning on
    // full-window stddev: it also catches pairs whose aligned SUBSET is
    // constant while the full series is not.
    var minX = Double.PositiveInfinity; var maxX = Double.NegativeInfinity
    var minY = Double.PositiveInfinity; var maxY = Double.NegativeInfinity
    while (i < lenA && j < lenB) {
      val x = tsA.getLong(i); val y = tsB.getLong(j)
      if (x < y) i += 1
      else if (y < x) j += 1
      else {
        val vx = reA.getDouble(i); val vy = reB.getDouble(j)
        sx += vx; sy += vy; n += 1
        if (vx < minX) minX = vx; if (vx > maxX) maxX = vx
        if (vy < minY) minY = vy; if (vy > maxY) maxY = vy
        i += 1; j += 1
      }
    }
    var r = Double.NaN
    if (n >= 2 && minX < maxX && minY < maxY) {
      val mx = sx / n; val my = sy / n
      var cxx = 0.0; var cyy = 0.0; var cxy = 0.0
      i = 0; j = 0
      while (i < lenA && j < lenB) {
        val x = tsA.getLong(i); val y = tsB.getLong(j)
        if (x < y) i += 1
        else if (y < x) j += 1
        else {
          val dx = reA.getDouble(i) - mx; val dy = reB.getDouble(j) - my
          cxx += dx * dx; cyy += dy * dy; cxy += dx * dy
          i += 1; j += 1
        }
      }
      if (cxx > 0.0 && cyy > 0.0) {
        r = cxy / math.sqrt(cxx * cyy)
        if (r > 1.0) r = 1.0 else if (r < -1.0) r = -1.0
      }
    }
    new GenericInternalRow(Array[Any](r, n))
  }

  /** Column-API entry: `pearsonAligned(tsA, retA, tsB, retB)`. */
  def apply(tsA: Column, retA: Column, tsB: Column, retB: Column): Column =
    ColumnBridge.column(PearsonAligned(
      ColumnBridge.expression(tsA), ColumnBridge.expression(retA),
      ColumnBridge.expression(tsB), ColumnBridge.expression(retB)))
}
