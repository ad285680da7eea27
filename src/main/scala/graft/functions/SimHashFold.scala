package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Packed SimHash fingerprint of a token-hash array as a single Catalyst
  * expression ([[SimHashFold.fingerprint]]): bit `b` of the result is set iff
  * `2 · Σ_h bit_b(h) > len` — the majority vote of the hashes' bits.
  *
  * Replaces the nested interpreted fold in [[graft.operators.Dedup.simHash]]
  * (`aggregate(sequence(0, bits−1), 0L, …)` wrapping an inner
  * `aggregate(hs, …)` per bit): Spark's higher-order functions evaluate
  * their lambdas interpreted per element, so the old form cost
  * `bits × len` interpreted evaluations per ROW — the dominant per-document
  * cost of the fingerprint scan. This expression makes ONE pass
  * over the array against a reused counter buffer. The result is identical
  * — the per-bit counts are integer sums, order-independent, so unlike the
  * FP folds ([[EwmaFold]], [[DotFold]], [[L2Fold]]) there is no
  * bit-stability caveat; the cross-engine oracle value is unchanged by
  * construction.
  *
  * Null contract: null array → null (callers wrap in `coalesce(_, 0L)` to
  * reproduce the old fold's null→0 fall-through); a null ELEMENT →
  * fingerprint 0, exactly as the old form (a null poisoned every per-bit
  * sum and `when(null > _)` fell through to 0 for all bits).
  */
case class SimHashFold(child: Expression, bits: Int)
  extends UnaryExpression {

  require(bits >= 1 && bits <= 63, s"bits in [1,63], got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_fold"

  override protected def nullSafeEval(v: Any): Any =
    SimHashFold.fingerprint(v.asInstanceOf[ArrayData], new Array[Int](bits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reused per-operator counter buffer — no per-row allocation
    val cnt = ctx.addMutableState("int[]", "simhashCnt",
      v => s"$v = new int[$bits];")
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = graft.functions.SimHashFold.fingerprint($hs, $cnt);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashFold =
    copy(child = newChild)
}

object SimHashFold {
  /** The `cnt.length`-bit majority fingerprint of `hs`; 0 when an element
    * is null. `cnt` is scratch for the per-bit counts (overwritten).
    */
  def fingerprint(hs: ArrayData, cnt: Array[Int]): Long = {
    val len = hs.numElements()
    val bits = cnt.length
    java.util.Arrays.fill(cnt, 0)
    var k = 0
    while (k < len) {
      if (hs.isNullAt(k)) return 0L
      val h = hs.getLong(k)
      var b = 0
      while (b < bits) { cnt(b) += ((h >>> b) & 1L).toInt; b += 1 }
      k += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (2L * cnt(b) > len) out |= 1L << b
      b += 1
    }
    out
  }

  /** Column-API entry: `SimHashFold(hs, bits)`. */
  def apply(hs: Column, bits: Int): Column =
    ColumnBridge.column(SimHashFold(ColumnBridge.expression(hs), bits))
}
