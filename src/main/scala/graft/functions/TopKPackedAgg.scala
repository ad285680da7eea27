package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, CreateArray, CreateNamedStruct, Expression, GreaterThan, If, IsNull, LessThan, Literal, Or, RaiseError}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, DeclarativeAggregate}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Bounded top-k aggregate over a packed sort key — the no-sort per-group
  * top-k for pair-volume inputs.
  *
  * `top_k_packed(key, payload, k)` keeps, per group, the k LARGEST
  * non-negative `key` longs (with their payload long), as k fixed slot
  * pairs in the aggregation buffer. The buffer is all-primitive
  * (2k longs), so the aggregate plans as whole-stage-codegen
  * HashAggregate with MAP-SIDE PARTIALS: each task reduces its share of
  * the input to k slots per group before the exchange, and the shuffle
  * carries O(groups × k) regardless of input volume. This is the shape a
  * rank-then-filter cannot reach — `row_number() <= k` prunes map-side
  * too (WindowGroupLimit), but only after a full LOCAL SORT of the input;
  * at a few billion pair rows the sort IS the query (measured 2× the
  * whole correlation kernel at the g1 tier).
  *
  * Contract: `key` must be non-negative (the empty-slot sentinel is -1);
  * callers pack (value, tiebreak) so that ONE long comparison is the
  * total order — see [[graft.operators.Correlations.topPartnersPacked]].
  * Null key/payload rows are skipped. Result: `array<struct<pk,pl>>` of
  * length k, descending, with -1 keys padding short groups.
  *
  * Everything (update, merge, eval) is composed Catalyst expressions —
  * insertion into the descending slot list is a nested-CASE insert-sort,
  * O(k) comparisons per row — so there is no interpreted per-row path at
  * all, unlike a TypedImperativeAggregate heap (ObjectHashAggregate).
  * The price is PLAN size: the merge's layered inserts multiply expression
  * references ~4.4^k, so this form is bounded at k ≤
  * [[TopKPackedAgg.declarativeMaxK]]; larger k routes to the
  * constant-plan-size [[TopKPackedHeapAgg]] via [[TopKPackedAgg.expr]].
  */
case class TopKPackedAgg(key: Expression, payload: Expression, k: Int)
    extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(key, payload)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pk", LongType, nullable = false),
    StructField("pl", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == LongType && payload.dataType == LongType &&
        k >= 1 && k <= TopKPackedAgg.declarativeMaxK)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"top_k_packed (declarative form) requires (bigint, bigint) and " +
        s"1 <= k <= ${TopKPackedAgg.declarativeMaxK} (larger k routes to " +
        s"TopKPackedHeapAgg — use TopKPackedAgg.expr); got " +
        s"(${key.dataType.catalogString}, ${payload.dataType.catalogString}), k=$k")

  private lazy val slotK: Seq[AttributeReference] =
    (1 to k).map(i => AttributeReference(s"tk$i", LongType, nullable = false)())
  private lazy val slotP: Seq[AttributeReference] =
    (1 to k).map(i => AttributeReference(s"tp$i", LongType, nullable = false)())

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    slotK ++ slotP

  override lazy val initialValues: Seq[Expression] =
    Seq.fill(k)(Literal(-1L)) ++ Seq.fill(k)(Literal(0L))

  /** Insert (v, p) into the descending slot lists: position j is the first
    * slot with v > k_j; slots above j keep, slot j takes (v, p), slots
    * below shift down by one. Expressed per-slot so the whole insert is a
    * flat projection.
    */
  private def insert(ks: Seq[Expression], ps: Seq[Expression],
      v: Expression, p: Expression): (Seq[Expression], Seq[Expression]) = {
    val nk = ks.indices.map { i =>
      if (i == 0) If(GreaterThan(v, ks(0)), v, ks(0))
      else If(GreaterThan(v, ks(i)),
        If(GreaterThan(v, ks(i - 1)), ks(i - 1), v), ks(i))
    }
    val np = ps.indices.map { i =>
      if (i == 0) If(GreaterThan(v, ks(0)), p, ps(0))
      else If(GreaterThan(v, ks(i)),
        If(GreaterThan(v, ks(i - 1)), ps(i - 1), p), ps(i))
    }
    (nk, np)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    // a negative key would be indistinguishable from the -1 empty-slot
    // sentinel (and silently lose to it) — fail loudly instead of
    // dropping rows; callers pack signed values into the non-negative
    // order-preserving form first (see topPartnersPacked)
    val guardedKey: Expression = If(LessThan(key, Literal(0L)),
      Cast(RaiseError(Literal(
        "top_k_packed: key must be non-negative (-1 is the empty-slot " +
          "sentinel); pack signed values into a non-negative order first")),
        LongType),
      key)
    val (nk, np) = insert(slotK, slotP, guardedKey, payload)
    // null inputs keep the buffer unchanged
    val skip = Or(IsNull(key), IsNull(payload))
    (slotK ++ slotP).zip(nk ++ np).map { case (old, nw) => If(skip, old, nw) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    // insert the right buffer's k slots into the left, best-first; the -1
    // sentinels of short right buffers never displace a real slot
    var ks: Seq[Expression] = slotK.map(_.left)
    var ps: Seq[Expression] = slotP.map(_.left)
    (0 until k).foreach { i =>
      val (nk, np) = insert(ks, ps, slotK(i).right, slotP(i).right)
      ks = nk; ps = np
    }
    ks ++ ps
  }

  override lazy val evaluateExpression: Expression =
    CreateArray((0 until k).map(i => CreateNamedStruct(Seq(
      Literal("pk"), slotK(i), Literal("pl"), slotP(i)))))

  override def prettyName: String = "top_k_packed"

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), payload = newChildren(1))
}

object TopKPackedAgg {

  /** Upper bound on k for THIS declarative form: the merge's k insert
    * layers each multiply references to the previous layer's expression
    * trees, so node count grows ~4.4^k (NOT O(k²) — measured ~3.7k nodes
    * at k=4, ~1.8M at k=8, ~690M at k=12), and the generated update code
    * trips Janino's 64 KB method limit (codegen fallback) just above k=4.
    * Measured end-to-end (BASELINE.md "r12: large-k top-k routing"): k=4
    * plans+runs in 0.9 s, k=6 4.4 s, k=8 70 s — so k=4 is the largest
    * value where this form keeps both bounded planning AND whole-stage
    * codegen. Beyond it the
    * routed builder switches to [[TopKPackedHeapAgg]], whose plan size is
    * constant in k (~0.2 s at any k ≤ maxK).
    */
  val declarativeMaxK: Int = 4

  /** Upper bound on k across both forms (it sizes the per-group buffer —
    * 2k longs — and a top-k beyond this size wants a sort anyway).
    */
  val maxK: Int = 256

  /** The routed builder: whole-stage-codegen declarative slots for small k
    * (primitive buffer, no serialization — measured fastest on the gate
    * shapes), imperative sorted-array buffer above [[declarativeMaxK]]
    * (constant plan size; ObjectHashAggregate, still map-side partials).
    * Both registered SQL surfaces and the Column API go through here.
    */
  def expr(key: Expression, payload: Expression, k: Int): AggregateFunction = {
    require(k >= 1 && k <= maxK,
      s"top_k_packed: k must be in [1, $maxK], got $k")
    if (k <= declarativeMaxK) TopKPackedAgg(key, payload, k)
    else TopKPackedHeapAgg(key, payload, k)
  }

  def apply(key: Column, payload: Column, k: Int): Column =
    ColumnBridge.column(expr(ColumnBridge.expression(key),
      ColumnBridge.expression(payload), k).toAggregateExpression())
}
