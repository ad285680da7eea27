package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling polynomial hash of an ASCII string as a Catalyst expression
  * ([[FingerprintFold.fingerprint]]): fold-left `acc := (acc·31 + byte) mod P` over the string's
  * bytes, `P = 2147483647`.
  *
  * Replaces the interpreted per-CHARACTER fold in
  * [[graft.operators.TextAnalysis.fingerprint]]
  * (`aggregate(split(norm, ""), 0L, (acc, c) => pmod(acc*31 + ascii(c), P))`)
  * — Spark's higher-order functions evaluate their lambdas interpreted per
  * element, and this one ran per character of every document: ~300
  * interpreted evaluations per row, the dominant cost of the fingerprint
  * scan. The byte loop is value-identical FOR ASCII INPUT (the
  * only caller normalizes to `[a-z0-9 ]` first): each single-byte char's
  * byte value equals its `ascii()` codepoint, the accumulator stays in
  * `[0, P)` so `pmod ≡ %`, and integer arithmetic has no ordering caveat.
  * Empty string → 0, matching the old fold (its lone `""` element
  * contributed `ascii("") = 0`). Callers passing non-ASCII would diverge
  * from the char-wise fold — enforce normalization upstream.
  *
  * Null contract: null string → null, as the old fold.
  */
case class FingerprintFold(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "fingerprint_fold"

  override protected def nullSafeEval(v: Any): Any =
    FingerprintFold.fingerprint(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.FingerprintFold.fingerprint($s);")

  override protected def withNewChildInternal(newChild: Expression): FingerprintFold =
    copy(child = newChild)
}

object FingerprintFold {
  private val P = 2147483647L

  /** `acc := (acc·31 + byte) mod P` over the string's bytes, from 0. */
  def fingerprint(s: UTF8String): Long = {
    val len = s.numBytes()
    var acc = 0L
    var k = 0
    while (k < len) {
      acc = (acc * 31L + (s.getByte(k) & 0xffL)) % P
      k += 1
    }
    acc
  }

  /** Column-API entry: `FingerprintFold(s)` — `s` must be ASCII. */
  def apply(s: Column): Column =
    ColumnBridge.column(FingerprintFold(ColumnBridge.expression(s)))
}
