package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Shared shape/validation for the fused product-quantization expressions:
  * a codebook set `books(i)(c)(j)` — `m` subspaces × `k` codewords ×
  * `sub` dims — baked into the expression as a reference object (one
  * `double[][][]`, a few KB; NOT an expression tree).
  *
  * Why these exist: composing the same math from `slice` + [[L2Fold]] +
  * `array_min`/`array_position` builds m×k fold expressions in ONE
  * projection (256 at PQ's m=k=16) — the generated method tripped Janino's
  * 64 KB limit, so the hot scan ran interpreted AND every plan paid
  * multi-second codegen-attempt/optimizer cost on the ~10⁴-node tree
  * (measured: ann_pq ~8 s steady-state on a 2000-row input, i.e. all plan
  * overhead). Each fused kernel is one static call from generated code
  * and keeps the whole stage inside codegen.
  *
  * Arithmetic is BIT-IDENTICAL to the composed form (the DuckDB oracle
  * replays it): per subspace, squared L2 accumulated ascending over j —
  * subtract, self-multiply, add, exactly [[L2Fold]]'s op order — and
  * argmin by strictly-less scan over ascending c = first occurrence of the
  * minimum = `array_position(dists, array_min(dists)) - 1`'s smallest-id
  * tie-break. Null contract (coarser than the composed form, which nulled
  * per-subspace: inputs are fixed-dim non-null embeddings, so the case is
  * degenerate): input null, shorter than m·sub, or any null element in the
  * first m·sub positions → null.
  *
  * NaN contract — the one DELIBERATE divergence from the composed form:
  * the kernel's `s < best` never accepts a NaN distance, so with a non-finite
  * embedding or codebook value the fused argmin keeps the FIRST codeword
  * whose distance went NaN (bestC stays at the earliest candidate when
  * every later comparison is false), while Spark's `array_min` orders NaN
  * GREATER than any double and would keep the smallest finite distance.
  * Reachable only with non-finite inputs, which the encode pipeline never
  * produces (embeddings are finite by the corpus contract, centroids are
  * means of finite values); the bit-identity claim above is therefore
  * scoped to FINITE inputs, and FoldExprSpec pins the NaN behavior of
  * both forms explicitly so a future change is caught, not discovered.
  */
private[functions] trait PqBookExpression { self: UnaryExpression =>
  def books: Seq[Seq[Seq[Double]]]

  protected lazy val booksArr: Array[Array[Array[Double]]] =
    books.map(_.map(_.toArray).toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = {
    if (books.isEmpty || books.exists(_.isEmpty) ||
        books.exists(_.exists(_.length != books.head.head.length)))
      return TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a non-empty m×k×sub codebook with uniform " +
          "codeword length")
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got ${t.catalogString}")
    }
  }

  override def nullable: Boolean = true

  /** Fully-qualified static kernel the generated code calls with `v` and
    * the codebook.
    */
  protected def kernel: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("pqBooks", booksArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $kernel($v, $b); ${ev.isNull} = ${ev.value} == null;")
  }
}

private[functions] object PqBookExpression {
  /** The null contract: `v` holds at least m·sub elements and none of the
    * first m·sub is null.
    */
  def usable(v: ArrayData, books: Array[Array[Array[Double]]]): Boolean = {
    val len = books.length * books(0)(0).length
    if (v.numElements() < len) return false
    var t = 0
    while (t < len) {
      if (v.isNullAt(t)) return false
      t += 1
    }
    true
  }

  /** `Σ_j (v(off+j) − cw(j))²`, ascending over j — [[L2Fold]]'s op order. */
  def sqDist(v: ArrayData, off: Int, cw: Array[Double]): Double = {
    var s = 0.0
    var j = 0
    while (j < cw.length) {
      val d = v.getDouble(off + j) - cw(j)
      s += d * d
      j += 1
    }
    s
  }
}

/** `pq_codes(v)`: the PQ encode step — per subspace, the codeword index
  * minimizing squared L2 against the subspace slice; returns `array<int>`
  * of length m. See [[PqBookExpression]] for the contract.
  */
case class PqCodes(child: Expression, books: Seq[Seq[Seq[Double]]])
  extends UnaryExpression with PqBookExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override protected def nullSafeEval(v: Any): Any =
    PqCodes.codes(v.asInstanceOf[ArrayData], booksArr)

  override protected def kernel: String = "graft.functions.PqCodes.codes"

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

object PqCodes {
  /** Per subspace, the first codeword index of least squared L2 against
    * `v`'s slice; null when `v` is not [[PqBookExpression.usable]].
    */
  def codes(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    if (!PqBookExpression.usable(v, books)) return null
    val sub = books(0)(0).length
    val out = new Array[Int](books.length)
    var i = 0
    while (i < books.length) {
      val book = books(i)
      var best = 0.0
      var bestC = -1
      var c = 0
      while (c < book.length) {
        val s = PqBookExpression.sqDist(v, i * sub, book(c))
        if (bestC < 0 || s < best) { best = s; bestC = c }
        c += 1
      }
      out(i) = bestC
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqCodes(
      ColumnBridge.expression(v.cast(ArrayType(DoubleType))), books))
}

/** `pq_tables(v)`: the PQ asymmetric-distance tables for a query vector —
  * per subspace, the squared L2 of the subspace slice against EVERY
  * codeword; returns `array<array<double>>` (m × k). A scan over encoded
  * corpus rows then answers the query by summing one table lookup per
  * subspace. See [[PqBookExpression]] for the contract.
  */
case class PqTables(child: Expression, books: Seq[Seq[Seq[Double]]])
  extends UnaryExpression with PqBookExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_tables"

  override protected def nullSafeEval(v: Any): Any =
    PqTables.tables(v.asInstanceOf[ArrayData], booksArr)

  override protected def kernel: String = "graft.functions.PqTables.tables"

  override protected def withNewChildInternal(newChild: Expression): PqTables =
    copy(child = newChild)
}

object PqTables {
  /** Per subspace, the squared L2 of `v`'s slice against every codeword;
    * null when `v` is not [[PqBookExpression.usable]].
    */
  def tables(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    if (!PqBookExpression.usable(v, books)) return null
    val sub = books(0)(0).length
    val rows = new Array[Any](books.length)
    var i = 0
    while (i < books.length) {
      val book = books(i)
      val tbl = new Array[Double](book.length)
      var c = 0
      while (c < book.length) {
        tbl(c) = PqBookExpression.sqDist(v, i * sub, book(c))
        c += 1
      }
      rows(i) = new GenericArrayData(tbl)
      i += 1
    }
    new GenericArrayData(rows)
  }

  def apply(v: Column, books: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqTables(
      ColumnBridge.expression(v.cast(ArrayType(DoubleType))), books))
}
