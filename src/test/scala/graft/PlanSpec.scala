package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Candles, Correlations, Rolling}
import graft.sources.Tables

/** Physical-plan regression guards: the properties that keep the engine fast
  * at 100 TB must be visible in the plan, not assumed — filter pushdown and
  * column pruning reach the parquet scans, small dimensions broadcast, and
  * the quadratic correlation pair space never crosses a shuffle.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  test("filters and projections push into the parquet scan") {
    val df = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45"),
      s"filter not pushed:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity")
      && !readSchema.contains("l_extendedprice"),
      s"columns not pruned: $readSchema")
  }

  test("small dimension tables broadcast in the Q5-shaped join") {
    val p = plan(SparkEntry.queries("q5_local_volume")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
  }

  test("correlation pair space stays inside one stage — no post-join exchange") {
    val ticks = Tables.eventsAsTicks(spark, dir)
    val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
      "6 hours", "3 hours", minCorr = 0.0)
    val p = corr.queryExecution.executedPlan
    // walk up from the pair join: no Exchange may sit between the join and
    // the final projection/filter — the O(keys²) rows never shuffle
    val tree = p.toString()
    val joinIdx = tree.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected sort-merge pair join:\n$tree")
    val aboveJoin = tree.substring(0, joinIdx)
    assert(!aboveJoin.contains("Exchange"),
      s"quadratic pair rows must not shuffle above the join:\n$tree")
    // and the Pearson expression sits in a Generate directly over the join —
    // the barrier that pins it to one evaluation per pair
    assert(aboveJoin.contains("Generate inline(array(pearson_aligned"),
      s"expected inline(pearson_aligned) Generate above the join:\n$tree")
    // the key-block cell dimension participates in the join keys, so one
    // window's O(keys²) pair space fans out over B(B+1)/2 cells instead of
    // serializing on a single task
    val joinLine = tree.substring(joinIdx).linesIterator.next()
    assert(joinLine.contains("__blk") && joinLine.contains("__hi")
      && joinLine.contains("__lo"),
      s"expected key-block cell columns in the pair-join keys: $joinLine")
  }

  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages and cached relations (whose own adaptive plans are final
    * once the cache has materialized).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** The first shuffle exchange below `p`, depth-first (for a window or a
    * cache scan, the exchange that feeds it).
    */
  private def feedingExchange(p: SparkPlan): Option[ShuffleExchangeExec] =
    nodes(p).tail.collectFirst { case e: ShuffleExchangeExec => e }

  /** Run `df` through its own QueryExecution, so its adaptive plan is final. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def hashedOn(e: ShuffleExchangeExec): (Seq[String], Int) =
    e.outputPartitioning match {
      case h: HashPartitioning =>
        (h.expressions.collect { case a: AttributeReference => a.name },
          h.numPartitions)
      case other => fail(s"expected a hash exchange, got $other")
    }

  test("fx per-key and pair stages run at the session's partition count (AQE final plan)") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def sessionWidth(e: ShuffleExchangeExec, keys: Seq[String]): Unit = {
      assert(e.shuffleOrigin == REPARTITION_BY_NUM && hashedOn(e) == (keys, n),
        s"expected hashpartitioning(${keys.mkString(", ")}, $n), " +
          s"REPARTITION_BY_NUM: ${e.simpleString(200)}")
    }
    val ticks = Tables.eventsAsTicks(spark, dir)

    // fx_corr_nan: the carry-forward windows are fed by the explicit key
    // exchange, and the pair join's pin by an explicit (w, key) exchange —
    // never by `key` alone, whose hash would track the key-block id
    val corrPlan =
      try finalPlan(Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
        "6 hours", "3 hours", minCorr = 0.4999, propagateNaN = true))
      finally Caches.release(spark, blocking = true)
    val corrNodes = nodes(corrPlan)
    val pins = corrNodes.collect { case m: InMemoryTableScanExec => m }
    assert(pins.nonEmpty, s"expected the pinned packet relation:\n$corrPlan")
    pins.foreach(m => sessionWidth(
      feedingExchange(m).getOrElse(fail(s"pin without an exchange:\n$corrPlan")),
      Seq("w", "key")))
    val corrWindows = corrNodes.collect { case w: WindowExec => w }
    assert(corrWindows.nonEmpty)
    corrWindows.foreach(w => sessionWidth(feedingExchange(w).get, Seq("key")))

    // fx_indicators: carry-forward and all of Rolling.indicators' windows
    // share ONE exchange — the explicit key exchange, no second shuffle
    val candles = Candles.aggregate(ticks, "1 hour")
    val indPlan = finalPlan(Rolling.indicators(
      candles.filter(col("close.askPrice").isNotNull),
      "key", "closeTime", col("close.askPrice")))
    val feeds = nodes(indPlan).collect { case w: WindowExec => w }
      .map(w => feedingExchange(w).get)
    assert(feeds.size > 2, s"expected carry-forward + indicator windows:\n$indPlan")
    assert(feeds.distinct.size == 1,
      s"carry-forward and Rolling.indicators must share one exchange:\n$indPlan")
    sessionWidth(feeds.head, Seq("key"))
  }

  test("lsh ann candidate join is a hash equi-join, never a nested loop") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.lshTopK(
      emb, emb.filter(col("vec_id") < 10), k = 5))
    // the multi-probe formulation joins on signature EQUALITY; a regression
    // to the old `bit_count(xor) <= h` predicate shows up as a
    // BroadcastNestedLoopJoin that tests every corpus row per query
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidates must not be a nested-loop scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected hash equi-join on the probe signature:\n$p")
  }

  test("ngram jaccard plan has no shingle-index self-join") {
    val docs = Tables(spark, dir, "documents")
    val p = plan(graft.operators.Dedup.ngramJaccard(
      docs, maxDocFrac = 0.5, cache = false))
    // candidates come off per-shingle posting lists (a Generate over the
    // aggregated index); an INNER join keyed on the shingle column means the
    // row-level index is being self-joined again — the r3 shape whose
    // re-shuffle the posting-list rework removed. (The LeftSemi hot-shingle
    // DF filter is also keyed on sh and is fine — it build-sides only the
    // rare-shingle keys.)
    val shingleKeyedJoins = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("[sh#") && !l.contains("LeftSemi")).toSeq
    assert(shingleKeyedJoins.isEmpty,
      s"shingle-keyed join found:\n${shingleKeyedJoins.mkString("\n")}")
    assert(p.contains("Generate"), s"expected posting-list Generate:\n$p")
  }

  test("kmeans assignment pass never shuffles the corpus") {
    val emb = Tables(spark, dir, "embeddings")
    val p = plan(graft.operators.Similarity.kMeans(emb, k = 4, iters = 1))
    // iters=1 → single assignment pass: scan + project, no Exchange at all
    assert(!p.contains("Exchange"),
      s"kmeans assignment must be a shuffle-free corpus scan:\n$p")
  }

  test("top-k partners: packed-slot HashAggregate, no sort, no window rank") {
    // the bounded-output correlation mode only bounds anything if the
    // per-group top-k reduces map-side WITHOUT sorting the pair volume:
    // the packed aggregate must plan as codegen HashAggregate (primitive
    // buffer), and no Window/WindowGroupLimit (each implies a full local
    // sort of the rank input) may appear in the tail
    val p = plan(SparkEntry.queries("fx_corr_topk")(spark, dir))
    // map-side k-slot reduction: a PARTIAL top_k_packed inside a
    // HashAggregate (primitive buffer — not ObjectHashAggregate/Sort)
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
        l.contains("partial_top_k_packed")),
      s"packed top-k has no map-side HashAggregate partial:\n$p")
    // and no rank fallback: WindowGroupLimit implies a full local sort of
    // the pair volume (the upstream candle pipeline's own Window operators
    // are fine — the rank-specific operator is the tell)
    assert(!p.contains("WindowGroupLimit"),
      s"rank fell back to a sort-based window group limit:\n$p")
  }

  test("bounded underlying: packed top-k tail survives the dimension join") {
    // fx_corr_underlying_topk only bounds payload volume if (a) the edge
    // set still reduces through the map-side packed HashAggregate and (b)
    // the series arrays come from ONE join against the packet dimension —
    // never a second rank or a sort of the pair volume
    val p = plan(SparkEntry.queries("fx_corr_underlying_topk")(spark, dir))
    assert(p.linesIterator.exists(l => l.contains("HashAggregate") &&
        l.contains("partial_top_k_packed")),
      s"bounded underlying lost its map-side packed partial:\n$p")
    assert(!p.contains("WindowGroupLimit"),
      s"bounded underlying fell back to a sort-based rank:\n$p")
    // exactly one join carries the pts arrays (side explode → single probe)
    val dimJoins = p.linesIterator.count(l =>
      l.contains("Join") && l.contains("__probe"))
    assert(dimJoins == 1, s"expected ONE dimension join, saw $dimJoins:\n$p")
  }

  test("rolling stats cost one exchange (the key partitioning) and one sort") {
    val flat = Tables(spark, dir, "events")
      .select(col("user_id").cast("string").as("key"), col("ts").as("closeTime"),
        col("value"))
    val p = plan(graft.operators.Rolling.stats(flat, "key", "closeTime",
      col("value"), 4))
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1,
      s"rolling stats should shuffle exactly once:\n$p")
  }

  test("nearest as-of join: both carries share one exchange, no pair join") {
    val ev = Tables(spark, dir, "events")
    val left = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts"), col("value"))
    val right = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("key"), col("ts"), col("value"))
    val p = plan(graft.operators.AsOfJoin.nearest(left, right))
    // the union reads two branches but the backward+forward window carries
    // must run on ONE key partitioning — and never a theta join
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1,
      s"nearest as-of should exchange exactly once:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"nearest as-of must not pair-join:\n$p")
  }

  test("tfidf scans the corpus exactly once") {
    val p = plan(graft.operators.TextAnalysis.tfIdf(
      Tables(spark, dir, "documents")))
    // nDocs is a separate 1-row aggregate branch; the TEXT (exploded corpus)
    // must feed one scan — df as a second aggregation branch would re-run
    // the explode per consumer
    val textScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("text"))
    assert(textScans == 1, s"tfidf must scan the corpus text once:\n$p")
  }

  test("candle pipeline scans events once per branch with pruned schema") {
    val ticks = Tables.eventsAsTicks(spark, dir)
    val p = plan(Candles.aggregate(ticks, "1 hour"))
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty)
    // the tick projection needs only ts/user_id/value — props/event_type are
    // pruned from every scan branch
    readSchemas.foreach { rs =>
      assert(!rs.contains("props") && !rs.contains("event_type"),
        s"unpruned events scan: $rs")
    }
  }

  test("sequence packing: corpus window is bucket-partitioned, bases broadcast") {
    val toks = graft.operators.TextAnalysis.tokenStats(
      Tables(spark, dir, "documents"))
    val p = plan(graft.operators.Packing.packSequences(toks, budget = 2048L))
    // the corpus-side prefix-sum window must be hash-partitioned on the
    // bucket — a global (single-partition) window over the corpus is the
    // accidental scale-killer this operator exists to avoid
    assert(p.contains("hashpartitioning(__bkt"),
      s"corpus window must partition by bucket:\n$p")
    // the per-bucket bases relation (the only serial step) enters broadcast
    assert(p.contains("BroadcastExchange"),
      s"bucket bases must broadcast back:\n$p")
    // exactly one single-partition window (over the tiny bases), not two
    assert(p.linesIterator.count(_.contains("SinglePartition")) == 1,
      s"only the |buckets|-row bases window may be single-partition:\n$p")
  }

  test("corpus mixture is a pure filter-scan union — zero shuffle") {
    val docs = Tables(spark, dir, "documents")
    def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
    val p = plan(graft.operators.Sampling.mixture(
      Seq("c0" -> slice(0), "c1" -> slice(1), "c2" -> slice(2)),
      Seq(600L, 300L, 100L)))
    assert(!p.contains("Exchange"),
      s"hash-acceptance mixture must not shuffle:\n$p")
  }

  test("cdc snapshot aggregates with map-side partials — never a window") {
    val p = plan(SparkEntry.queries("cdc_snapshot")(spark, dir))
    // the point vs row_number()=1: a hot key collapses in the PARTIAL
    // max_by per map task before the shuffle, where a window would
    // co-locate and sort every version of it on one task. (The struct
    // buffer makes this a SortAggregate — the sorts are per-partition on
    // the grouping key, which partials keep small; the banned shape is
    // the Window.)
    assert(p.contains("partial_max_by"),
      s"map-side partial aggregation must combine hot keys:\n$p")
    assert(!p.contains("Window"), s"snapshot must not window:\n$p")
    // exactly one exchange: the post-partial shuffle on the key
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"one key exchange expected:\n$p")
  }

  test("interval overlap join plans as an equi-join on the bucket") {
    val p = plan(SparkEntry.queries("interval_join")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"binned overlap must never plan a nested loop:\n$p")
    assert(p.contains("__bk"), s"bucket key must drive the join:\n$p")
  }

  test("JL projection is a single scan — zero exchanges, codegen dot folds") {
    val p = plan(graft.operators.Similarity.projectVectors(
      Tables(spark, dir, "embeddings"), outDim = 16))
    assert(!p.contains("Exchange"), s"projection must not shuffle:\n$p")
    assert(p.contains("dot_fold"), s"expected codegen dot folds:\n$p")
  }

  test("JL long form explodes with NO inferred size-guard Filter") {
    // plain posexplode makes Catalyst infer `size(proj) > 0` below the
    // Generate; after projection collapse that Filter re-evaluates the
    // whole outDim×dim dot-fold array per row (measured 4× the gate, r13).
    // posexplode_outer emits identical rows with no guard — pin that the
    // plan stays Filter-free so a refactor back to plain posexplode trips
    val p = plan(graft.operators.Similarity.randomProjection(
      Tables(spark, dir, "embeddings"), outDim = 16))
    assert(p.contains("Generate"), s"expected an explode Generate:\n$p")
    // the guard re-appearing as `Filter (size(proj#..., true) > 0)` must
    // trip even when Catalyst composes it into a conjunction (extra open
    // parens: `Filter ((size(v#1) > 0) AND ...)`), so match size( anywhere
    // on a Filter node line; scan PushedFilters lines never print `Filter `
    // with a trailing space at line start, so benign scan metadata can't
    // false-positive
    assert(!"(?m)^[^\\n]*Filter .*size\\(".r.findFirstIn(p).isDefined,
      s"the inferred size()>0 guard is back — it re-evaluates the fold array:\n$p")
  }

  test("bucketed join: both exchanges elided by the bucket spec") {
    import spark.implicits._
    val l = (1L to 200L).map(i => (i, s"p${i % 4}")).toDF("k", "prio")
    val r = (1L to 600L).map(i => (i % 200 + 1, i * 1.5)).toDF("k", "qty")
    graft.operators.Layout.bucketedPrepare(l, "graft_t_left", "k", 4)
    graft.operators.Layout.bucketedPrepare(r, "graft_t_right", "k", 4)
    // disable broadcast: on test-sized tables the planner broadcasts (and
    // then ignores buckets); the exchange-elision claim is about the
    // big-big sort-merge regime where broadcasting is impossible
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.operators.Layout.bucketedJoin(spark,
        "graft_t_left", "graft_t_right", "k")
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"bucketed co-located join must plan ZERO exchanges:\n$p")
      assert(joined.count() == 600L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("winsorize corpus side joins broadcast bounds — corpus never shuffles") {
    val docs = Tables(spark, dir, "documents")
    val scored = graft.operators.TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val p = plan(graft.operators.TextAnalysis.winsorize(
      scored, "source", "quality_score"))
    assert(p.contains("BroadcastHashJoin"),
      s"bounds must broadcast back:\n$p")
  }

  test("q6 scan-filter-agg: every predicate reaches the parquet scan") {
    val p = plan(SparkEntry.queries("q6_revenue_filter")(spark, dir))
    assert(!p.contains("Join"), s"q6 must be join-free:\n$p")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(Seq("l_shipdate", "l_discount", "l_quantity").forall(pushed.contains),
      s"q6 predicates not pushed: $pushed")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"q6 columns not pruned: $readSchema")
  }

  test("bm25 query-term filter collapses the corpus before any join") {
    import graft.operators.TextAnalysis
    val docs = Tables(spark, dir, "documents")
    val p = plan(TextAnalysis.bm25(docs, Seq("hash", "join"), k = 5))
    // df + corpus stats broadcast; the scored relation is TakeOrdered-cut
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast stats joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }
}
