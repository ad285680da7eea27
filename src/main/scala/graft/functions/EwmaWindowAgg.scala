package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType}

/** Finite-history adjusted EWMA as a WINDOW AGGREGATE:
  * `ewma_agg(x, α).over(frame)` ≡ `EwmaFold(collect_list(x).over(frame), α)`
  * with the collect_list array never materialized.
  *
  * The indicator family (ewma, MACD fast/slow/signal, RSI gain/loss) ran
  * every fold over a windowed `collect_list`: per output row the Window
  * operator buffered the frame, SERIALIZED it into an UnsafeArrayData
  * column of the operator's output row, and a downstream projection
  * re-read the array into [[EwmaFold]]. This aggregate keeps the same
  * per-frame buffer (appended in frame order — oldest → newest, exactly
  * collect_list's order) but folds it directly in `eval`, so the array
  * column, its per-row materialization and the extra projection disappear
  * from the plan (guide: expressions/codegen — do not materialize what a
  * fold can consume in place).
  *
  * BIT-EXACT CONTRACT: `eval` is EwmaFold's loop verbatim — ascending
  * accumulation of `x · Math.pow(α, len−1−i)`, closed-form denominator —
  * and the buffer order equals collect_list's frame order, so results are
  * bit-identical to the collect_list → EwmaFold pipeline (the DuckDB
  * oracles pin those exact bits; equality also pinned per-frame in
  * RollingPropertySpec).
  *
  * Null contract, matching collect_list + EwmaFold: null inputs are
  * SKIPPED (collect_list drops them); a frame with no non-null values
  * yields null (EwmaFold of an empty array).
  *
  * WINDOW-ONLY: a window frame drives only `initialize`/`update`/`eval`,
  * appending in frame order. A grouped aggregation would instead merge
  * partial buffers in whatever order the partial aggregates arrive, and
  * the fold is order-sensitive, so its result would vary with partitioning.
  * `merge` therefore throws (naming this contract): `groupBy(...).agg` of
  * this aggregate fails at execution instead of returning a
  * partition-dependent value. `serialize`/`deserialize` remain because the
  * aggregate interface requires them.
  */
case class EwmaWindowAgg(
    child: Expression,
    alphaExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Double]] {

  private lazy val alpha: Double =
    alphaExpr.eval(InternalRow.empty).asInstanceOf[Double]

  override def children: Seq[Expression] = Seq(child, alphaExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ewma_agg"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a double input, got ${child.dataType.catalogString}")
    else if (alphaExpr.dataType != DoubleType || !alphaExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable double alpha")
    else {
      val a = alphaExpr.eval(InternalRow.empty)
      if (a == null || a.asInstanceOf[Double] <= 0.0 ||
          a.asInstanceOf[Double] >= 1.0)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires alpha in (0, 1), got $a")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Double] =
    new scala.collection.mutable.ArrayBuffer[Double]()

  override def update(
      buffer: scala.collection.mutable.ArrayBuffer[Double],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[Double] = {
    val v = child.eval(input)
    if (v != null) buffer += v.asInstanceOf[Double]
    buffer
  }

  override def merge(
      buffer: scala.collection.mutable.ArrayBuffer[Double],
      other: scala.collection.mutable.ArrayBuffer[Double])
      : scala.collection.mutable.ArrayBuffer[Double] =
    throw new UnsupportedOperationException(
      s"$prettyName is a window-only aggregate: use it as " +
        s"$prettyName(x, alpha).over(frame). Grouped aggregation would " +
        "merge partial buffers in partition order and make the " +
        "order-sensitive fold nondeterministic.")

  override def eval(
      buffer: scala.collection.mutable.ArrayBuffer[Double]): Any = {
    val len = buffer.length
    if (len == 0) return null
    // EwmaFold's arithmetic VERBATIM: same ops, same order, same bits
    var num = 0.0
    var k = 0
    while (k < len) {
      num += buffer(k) * math.pow(alpha, (len - 1 - k).toDouble)
      k += 1
    }
    num / ((1.0 - math.pow(alpha, len.toDouble)) / (1.0 - alpha))
  }

  override def serialize(
      buffer: scala.collection.mutable.ArrayBuffer[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buffer.length)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(
      bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new scala.collection.mutable.ArrayBuffer[Double](bytes.length / 8)
    while (bb.remaining() >= 8) out += bb.getDouble
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): EwmaWindowAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): EwmaWindowAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EwmaWindowAgg =
    copy(child = newChildren(0), alphaExpr = newChildren(1))
}

object EwmaWindowAgg {
  /** Column-API entry: `EwmaWindowAgg(x, alpha).over(frame)`. Accepts any
    * numeric input — cast here (a no-op when already double), matching
    * [[EwmaFold]]'s coercion.
    */
  def apply(x: Column, alpha: Double): Column =
    ColumnBridge.column(EwmaWindowAgg(
      ColumnBridge.expression(x.cast(DoubleType)),
      ColumnBridge.expression(
        org.apache.spark.sql.functions.lit(alpha).cast(DoubleType)))
      .toAggregateExpression())
}
