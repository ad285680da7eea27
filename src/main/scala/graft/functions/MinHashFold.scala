package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The full MinHash signature of a shingle-hash set as ONE Catalyst
  * expression ([[MinHashFold.signature]]): slot `i` of the result is
  * `min_h ((2i+1)·h + 7919·(i+1)) mod P`, `P = 2147483647` — the portable
  * hash family of [[graft.operators.Dedup.minHashSignatures]].
  *
  * Replaces the interpreted nested fold
  * (`transform(sequence(0, n−1), i => array_min(transform(hs, …)))`):
  * Spark's higher-order functions evaluate their lambdas interpreted, so
  * the old form cost `numHashes × |hs|` interpreted evaluations per
  * document — the dominant per-row cost of the signature scan feeding
  * every MinHash pipeline (batch LSH, the streaming band index, corpus
  * curation). This expression makes one pass over the hash set
  * against a reused min buffer. Values are identical: the per-slot minima
  * are integer operations (`h ∈ [0,P)` keeps every product positive, so
  * `pmod ≡ %`) and min is order-independent.
  *
  * Null contract: null input array → null. The upstream `collect_set`
  * guarantees non-empty arrays of non-null longs; for robustness an empty
  * array or a null ELEMENT also yields a null signature (the old form gave
  * per-slot nulls there — unobservable through any caller, and a null
  * signature row drops out of the band join exactly like null slots did).
  */
case class MinHashFold(child: Expression, numHashes: Int)
  extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_fold"

  override protected def nullSafeEval(v: Any): Any =
    MinHashFold.signature(v.asInstanceOf[ArrayData], new Array[Long](numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reused per-operator min buffer — the result copies out of it
    val buf = ctx.addMutableState("long[]", "minhashBuf",
      v => s"$v = new long[$numHashes];")
    nullSafeCodeGen(ctx, ev, hs =>
      s"${ev.value} = graft.functions.MinHashFold.signature($hs, $buf); " +
        s"${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashFold =
    copy(child = newChild)
}

object MinHashFold {
  private val P = 2147483647L

  /** The signature of `hs` with `buf.length` slots, or null for an empty
    * array or a null element. `buf` is scratch for the running minima
    * (overwritten); the result is a copy of it.
    */
  def signature(hs: ArrayData, buf: Array[Long]): ArrayData = {
    val len = hs.numElements()
    if (len == 0) return null
    java.util.Arrays.fill(buf, Long.MaxValue)
    var k = 0
    while (k < len) {
      if (hs.isNullAt(k)) return null
      val h = hs.getLong(k)
      var i = 0
      while (i < buf.length) {
        val x = ((2L * i + 1L) * h + 7919L * (i + 1L)) % P
        if (x < buf(i)) buf(i) = x
        i += 1
      }
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(buf)
  }

  /** Column-API entry: `MinHashFold(hs, numHashes)`. */
  def apply(hs: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashFold(ColumnBridge.expression(hs), numHashes))
}
