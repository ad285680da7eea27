package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Behavior, Bpe, Candles, Cdc, Correlations, Curation, Dedup, Graphs, Layout, Multimodal, Packing, Profiling, RangeJoin, Ranking, Rolling, Sampling, Similarity, Skew, Sketches, TextAnalysis}
import graft.sources.{IO, Tables}
import graft.streaming.{FileReplay, StreamingCandles, StreamingCorrelations, StreamingDedup}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator of the SURVEY §2 inventory (or
  * an LLM-pipeline extension) run against the driver's parquet test tables;
  * [[oracleSql]] carries the equivalent DuckDB SQL for the hash-match gate.
  * Column names and float rounding are aligned pairwise — the driver sorts
  * columns by name and hashes values, so both sides round explicitly.
  *
  * Queries tagged "shared" use ANSI SQL executed verbatim by BOTH Spark and
  * DuckDB (one string, zero drift). FX/windowing queries run through the
  * library operators ([[Candles]], [[Correlations]]) with handwritten DuckDB
  * equivalents (DuckDB has no `window()`/`session_window`).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full reference pipeline — gap-filled, carry-forward OHLC candles.
    */
  def entry(spark: SparkSession): DataFrame =
    fxCandles(spark, "/root/testdata/sf0.001")

  private def reg(s: SparkSession, dir: String): SparkSession = {
    Tables.registerAll(s, dir); s
  }

  /** Micro-batch count for the streaming replay harness queries: 3 slices
    * (+2 watermark sentinels = 5 micro-batches) still proves incremental
    * window close on watermark advance — windows close in three distinct
    * mid-stream steps, the semantics the gates exist for — while not
    * paying the ~1-2.5 s/micro-batch harness fixed cost (state commit +
    * sink commit + incremental re-plan) more often than that proof needs.
    * (Was 4 through r5; the pair-join twin gate's fixed cost is per-epoch,
    * so each extra slice costs ~2 s against a batch twin that pays it
    * zero times.)
    */
  private final val streamReplayBatches = 3

  /** The embedding width passed to the ANN operators so no gate runs a
    * 1-row dim-probe job PER BUILD — probed once per DIRECTORY and
    * memoized for the JVM's lifetime (concurrent first calls may race the
    * probe; both compute the same value, so the race is benign). The key
    * is the dir path alone: regenerating the parquet at the SAME path with
    * a different width mid-JVM would serve the stale dim — acceptable
    * here because the driver's testdata dirs are immutable within a run
    * (regenerate ⇒ new JVM). A hardcoded constant would be faster still, but a testdata
    * dir with a different width would then silently miscompute every
    * dot-fold (wrong rows, no error); one probe job per dir is the price
    * of failing loudly instead. A production caller passes its known
    * width to the operators directly and pays neither.
    */
  private val dimCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]
  private def embeddingsDim(s: SparkSession, dir: String): Int =
    dimCache.getOrElseUpdate(dir, {
      val d = Tables(s, dir, "embeddings")
        .select(size(col("embedding")).as("d")).limit(1)
        .collect().headOption.map(_.getInt(0)).getOrElse(0)
      require(d > 0, s"embeddings table at $dir has no rows or empty vectors")
      d
    })

  // ---------------------------------------------------------------- shared SQL
  // ANSI SQL strings run verbatim on Spark and DuckDB (dialect-neutral subset:
  // no window()/time_bucket, INTERVAL literals avoided, explicit rounding).

  private val sharedSql: Map[String, String] = Map(
    // A1-style grouped aggregation (TPC-H Q1 shape): hash agg w/ partial combine.
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2)                            AS sum_qty,
        |       round(sum(l_extendedprice), 2)                       AS sum_base,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
        |       round(avg(l_quantity), 6)                            AS avg_qty,
        |       round(avg(l_discount), 6)                            AS avg_disc,
        |       count(*)                                             AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    // Multi-way join + agg + deterministic top-k (TPC-H Q3 shape).
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       o_orderdate
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    // Five-way dim join through region (TPC-H Q5 shape; broadcast-able dims).
    "q5_local_volume" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,

    // TPC-H Q10 shape: returned-item revenue — fact-fact join narrowed by a
    // selective date window, dim joins broadcast, deterministic top-20.
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1999-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    // TPC-H Q18 shape: large-volume orders — the aggregate semi-join
    // (HAVING subquery) feeding a 3-way join, deterministic top-20.
    "q18_large_orders" ->
      """SELECT c_custkey, o_orderkey, o_orderdate,
        |       round(o_totalprice, 2) AS total_price,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey
        |                     HAVING sum(l_quantity) > 300)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY total_price DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    // Ordered analytic window functions per partition (R3 sorts; lag like A3).
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn,
        |       round(prev_total, 2) AS prev_total
        |FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn,
        |         lag(o_totalprice) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate, o_orderkey) AS prev_total
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    // Anti join (gap-fill's A2 set-difference shape on relational data):
    // parts never shipped in bulk (no lineitem with quantity > 45).
    "q_anti_join" ->
      """SELECT p_partkey, p_brand
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin,

    // Semi join: customers having at least one open order.
    "q_semi_join" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    // TPC-H Q2 shape: min-cost supplier — the correlated scalar-subquery
    // join (cost equals the part's own minimum), decorrelated by Catalyst
    // into an aggregate + self-join; unit costs derive from lineitem since
    // this schema carries no partsupp. FP-safe: both sides select the min
    // over the SAME division results, so the equality is exact.
    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey, p.p_brand, ps.l_suppkey AS s_suppkey,
        |       round(ps.cost, 6) AS cost
        |FROM part p JOIN ps ON ps.l_partkey = p.p_partkey
        |WHERE p.p_size <= 5
        |  AND ps.cost = (SELECT min(ps2.cost) FROM ps ps2
        |                 WHERE ps2.l_partkey = p.p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    // Time-RANGE window frame: per-customer trailing-30-day spend — the
    // frame is defined by the ORDER BY value (timestamp minus interval),
    // not a row count, so order-date ties share one frame. The event-time
    // analog of q_window_nav's row frames.
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW),
        |         2) AS spend_30d
        |FROM orders
        |WHERE o_custkey <= 200""".stripMargin,

    // TPC-H Q4 shape: order-priority checking — an EXISTS semi join from
    // the order header into lineitem (returned lines stand in for the
    // commit/receipt-date predicate, which this schema doesn't carry),
    // grouped counts over a selective date window. The semi join is the
    // scale property: lineitem is never widened, only probed.
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // TPC-H Q6 shape: forecasting-revenue-change — the pure scan-filter-agg
    // plan; every predicate must reach the parquet scan (PushedFilters), no
    // join, one partial-agg exchange collapsing to a single row.
    "q6_revenue_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    // TPC-H Q7 shape: volume shipping between two nations — the same dim
    // table (nation) joined TWICE under different roles (supplier side vs
    // customer side), a disjunctive cross-nation predicate, and a
    // year-bucketed rollup. Both nation joins broadcast.
    "q7_volume_shipping" ->
      """SELECT supp_nation, cust_nation, yr,
        |       round(sum(volume), 2) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS yr,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |) shipping
        |GROUP BY supp_nation, cust_nation, yr
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin,

    // TPC-H Q8 shape: national market share — a 7-way join (fact widened by
    // part + supplier + two nation roles + region) feeding a conditional-
    // sum ratio per year. The CASE-inside-sum is the market-share kernel;
    // nullif guards the ANSI-mode division.
    "q8_market_share" ->
      """SELECT yr,
        |       round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END)
        |             / nullif(sum(volume), 0), 6) AS mkt_share
        |FROM (
        |  SELECT year(o_orderdate) AS yr, n1.n_name AS nation,
        |         l_extendedprice * (1 - l_discount) AS volume
        |  FROM lineitem
        |  JOIN part     ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region   ON n2.n_regionkey = r_regionkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |) all_nations
        |GROUP BY yr
        |ORDER BY yr""".stripMargin,

    // TPC-H Q14 shape: promotion-effect ratio — a fact-dim join narrowed by
    // a one-month ship window, with the promo share computed as a
    // conditional-sum ratio in the post-agg projection.
    "q14_promo_revenue" ->
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0 END)
        |             / nullif(sum(l_extendedprice * (1 - l_discount)), 0),
        |             4) AS promo_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin,

    // TPC-H Q15 shape: top supplier by quarterly revenue — the
    // view-then-max-equality pattern (ties all surface, no arbitrary
    // LIMIT 1); the revenue CTE evaluates once, its max joins back as an
    // uncorrelated scalar.
    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total = (SELECT max(total) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // TPC-H Q19 shape: discounted-revenue over an OR-of-ANDs predicate that
    // straddles the join (part attrs AND lineitem attrs in each disjunct).
    // The planner must still push the common join key and the per-side
    // domain bounds; the disjunction itself evaluates post-join.
    "q19_disjunctive" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // ROLLUP grouping sets (free via Catalyst; NULL-marked subtotal rows).
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    // Fixed-width histogram: floor-binned distribution of order totals —
    // the profiling/quality-report primitive.
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM orders
        |GROUP BY 1""".stripMargin,

    // Relational set operations: INTERSECT / EXCEPT / UNION with distinct
    // semantics over customer key sets.
    "q_set_ops" ->
      """WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |auto AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |SELECT 'rich_buyers' AS tag, k FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich) a
        |UNION ALL
        |SELECT 'rich_nonbuyers' AS tag, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers) b
        |UNION ALL
        |SELECT 'rich_or_auto' AS tag, k FROM (SELECT k FROM rich UNION SELECT k FROM auto) c""".stripMargin,

    // Analytic window functions beyond rank: lag/lead navigation, ntile
    // bucketing and percent_rank over per-customer order histories.
    "q_window_nav" ->
      """SELECT o_custkey, o_orderkey,
        |       lag(o_orderkey) OVER w        AS prev_order,
        |       lead(o_orderkey) OVER w       AS next_order,
        |       ntile(4) OVER w               AS quartile,
        |       round(percent_rank() OVER w, 6) AS pr
        |FROM orders
        |WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    // Full outer join: customers active only before/only after the split
    // date appear one-sided and coalesce to zero counts.
    "q_full_outer" ->
      """WITH a AS (
        |  SELECT o_custkey AS k, count(*) AS n1 FROM orders
        |  WHERE o_orderdate < DATE '1994-01-01' GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey AS k, count(*) AS n2 FROM orders
        |  WHERE o_orderdate >= DATE '1994-01-01' GROUP BY o_custkey)
        |SELECT coalesce(a.k, b.k) AS custkey,
        |       coalesce(n1, 0) AS n_early,
        |       coalesce(n2, 0) AS n_late
        |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin,

    // Multi-dimensional aggregation via explicit grouping sets (the general
    // form ROLLUP/CUBE desugar to).
    "q_grouping_sets" ->
      """SELECT coalesce(l_linestatus, 'ALL') AS ls,
        |       coalesce(l_returnflag, 'ALL') AS rf,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_linestatus), (l_returnflag), (l_linestatus, l_returnflag))""".stripMargin,

    // CUBE: every grouping-set combination incl. the grand total (the third
    // of the ROLLUP/GROUPING SETS/CUBE family, same Catalyst Expand node).
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    // Exact distinct aggregation. avg_bal runs as an EXACT decimal sum
    // divided by the count, not avg(double): double summation order differs
    // between engines (Spark partial sums vs DuckDB sequential), and at
    // sparse scale factors the 4th-decimal round landed on the knife edge
    // (4190.83825 vs ...83835 → hash mismatch at sf0.001). Decimal sums are
    // exact in both engines, so the quotient (and its rounding) is
    // bit-identical at any scale.
    "q_distinct_agg" ->
      """SELECT c_mktsegment,
        |       count(DISTINCT c_nationkey) AS n_nations,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |             / count(c_acctbal), 4) AS avg_bal
        |FROM customer
        |GROUP BY c_mktsegment""".stripMargin,

    // Exact interpolated percentiles (ANSI WITHIN GROUP — ordered-set agg;
    // at scale swap for approx_percentile's t-digest sketch).
    "q_percentile" ->
      """SELECT l_returnflag,
        |       round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
        |       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95,
        |       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin,

    // RFM segmentation: per-customer recency/frequency/monetary quintiles
    // (ntile with key tie-breaks so the cut is engine-stable) rolled up to
    // segment populations — the classic customer-analytics shape. The
    // ntile windows sort the |customers|-row aggregate, never the orders
    // fact; at open cardinality the quintile boundaries would come from a
    // percentile sketch instead (the feature_bins path).
    "q_rfm" ->
      """WITH rfm AS (
        |  SELECT o_custkey,
        |         max(o_orderdate) AS last_order,
        |         count(*) AS freq,
        |         round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY o_custkey),
        |scored AS (
        |  SELECT o_custkey,
        |         ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
        |         ntile(5) OVER (ORDER BY freq, o_custkey)       AS f_score,
        |         ntile(5) OVER (ORDER BY monetary, o_custkey)   AS m_score
        |  FROM rfm)
        |SELECT r_score, f_score, m_score, count(*) AS n_customers
        |FROM scored
        |GROUP BY r_score, f_score, m_score""".stripMargin,

    // Correlated scalar subquery + HAVING (decorrelated by Catalyst).
    "q_having_sub" ->
      """SELECT o_custkey, count(*) AS n_big
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o_custkey
        |HAVING count(*) >= 8
        |ORDER BY o_custkey""".stripMargin,

    // L-DIVERSITY audit, k-anonymity's companion (privacy_kanon counts
    // small quasi-identifier groups; this counts how many DISTINCT
    // sensitive values each group carries — a k-anonymous group with one
    // segment still leaks it). Distribution of l over QI groups; two
    // dimension-sized hash aggs.
    "privacy_ldiv" ->
      """WITH g AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
        |         count(*) AS n,
        |         count(DISTINCT c_mktsegment) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT l, count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM g GROUP BY l
        |ORDER BY l""".stripMargin,

    // TPC-H Q9 shape: product-type profit — six-way star join where the
    // per-(part,supplier) unit cost is a DERIVED fact (min observed unit
    // price from lineitem; this schema carries no partsupp, same convention
    // as q2), re-joined against the fact it came from. The scale property:
    // the ps aggregate shuffles on (partkey,suppkey) once and the re-join
    // reuses that key; dims (supplier, nation, part filter) broadcast.
    "q9_product_profit" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT nation, yr, round(sum(amount), 2) AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, year(o_orderdate) AS yr,
        |         l_extendedprice * (1 - l_discount) - ps.cost * l_quantity AS amount
        |  FROM part
        |  JOIN lineitem ON p_partkey = lineitem.l_partkey
        |  JOIN supplier ON s_suppkey = lineitem.l_suppkey
        |  JOIN ps ON ps.l_partkey = lineitem.l_partkey
        |         AND ps.l_suppkey = lineitem.l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_type = 'PROMO') profit
        |GROUP BY nation, yr
        |ORDER BY nation, yr DESC""".stripMargin,

    // TPC-H Q11 shape: important stock — grouped value vs an uncorrelated
    // scalar subquery over the same derived-partsupp relation (broadcast
    // as one row). The verbatim FRACTION-of-total cut is SF-dependent
    // (TPC-H itself scales it 1/SF), so the cut here is 2× the average
    // share — the same plan, scale-free selectivity.
    "q11_important_stock" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |v AS (SELECT l_partkey, sum(cost) AS val FROM ps GROUP BY 1)
        |SELECT l_partkey AS p_key, round(val, 2) AS value
        |FROM v
        |WHERE val > (SELECT 2.0 * avg(val) FROM v)
        |ORDER BY value DESC, p_key""".stripMargin,

    // TPC-H Q12 shape: shipping-mode priority mix — fact-fact join narrowed
    // by a ship-date year, conditional counts via CASE inside the aggregate
    // (map-side foldable). l_returnflag stands in for l_shipmode, the
    // urgent/non-urgent split is verbatim Q12.
    "q12_shipmode_priority" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
    // with the filter in the ON clause (kept rows vs dropped predicate — the
    // outer-join semantics gate), then a distribution-of-counts re-aggregate.
    // Two shuffles total: custkey, then the |distinct counts|-row regroup.
    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // TPC-H Q16 shape: supplier-relationship count — count(DISTINCT) per
    // group combined with a NOT IN anti-subquery (ANSI null-aware anti
    // join; the subquery side is provably non-null here, so it plans as a
    // plain anti join, never the null-checking BNL fallback).
    "q16_parts_suppliers" ->
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // TPC-H Q17 shape: small-quantity-order revenue — the per-part
    // correlated aggregate threshold (quantity below 20% of the part's own
    // mean), decorrelated by Catalyst into an aggregate + re-join on
    // partkey. One row out; the interesting part is the plan.
    "q17_small_quantity" ->
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#11'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin,

    // TPC-H Q20 shape: potential part promotion — NESTED IN subqueries
    // (the inner one itself a join + aggregate threshold against a
    // per-part share), each planning as a semi join; suppliers who
    // shipped >30% of a promoted part's total quantity stand in for the
    // availqty-vs-half-of-sold predicate (no partsupp in this schema).
    "q20_part_promotion" ->
      """SELECT s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT sq.l_suppkey
        |  FROM (SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
        |        FROM lineitem GROUP BY 1, 2) sq
        |  JOIN (SELECT l_partkey AS pk, sum(l_quantity) AS tq
        |        FROM lineitem GROUP BY 1) pt
        |    ON sq.l_partkey = pt.pk
        |  WHERE sq.l_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_type = 'PROMO')
        |    AND sq.q > 0.15 * pt.tq)
        |ORDER BY s_name""".stripMargin,

    // TPC-H Q21 shape: the sole-fault supplier — one EXISTS and one NOT
    // EXISTS against the same fact at different correlation predicates
    // (another supplier shipped the order; no other supplier's line was
    // returned). Both plan as semi/anti joins on l_orderkey — lineitem is
    // probed twice, widened never. Returnflag 'R' on finished orders stands
    // in for the receipt-after-commit lateness predicate.
    "q21_waiting_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    // TPC-H Q22 shape: global sales opportunity — an uncorrelated scalar
    // average as the balance threshold (broadcast single row), an anti join
    // against orders (customers with no URGENT order — every customer here
    // has SOME order, so the verbatim no-orders predicate would be vacuous),
    // and a grouped rollup by a derived country code.
    "q22_sales_opportunity" ->
      """SELECT cntrycode, count(*) AS numcust,
        |       round(sum(c_acctbal), 2) AS totacctbal
        |FROM (
        |  SELECT CAST(c_custkey % 7 AS INT) AS cntrycode, c_acctbal
        |  FROM customer
        |  WHERE CAST(c_custkey % 7 AS INT) IN (1, 2, 3, 4)
        |    AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                     WHERE c_acctbal > 0.0
        |                       AND CAST(c_custkey % 7 AS INT) IN (1, 2, 3, 4))
        |    AND NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_custkey = c_custkey
        |                      AND o_orderpriority = '1-URGENT')) custsale
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin
  )

  // ------------------------------------------------------------ FX pipeline

  /** events → ticks → full candle pipeline (gap-fill + OHLC + carry-forward),
    * flattened to the reference's `SimpleAggTester` projection.
    */
  private def fxCandles(s: SparkSession, dir: String): DataFrame = {
    val ticks = Tables.eventsAsTicks(s, dir)
    Candles.flatten(Candles.aggregate(ticks, "1 hour"))
      .select(col("key"), col("closeTime"), col("openStateTime"),
        col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
        col("minBidPrice"), col("maxBidPrice"), col("isLive"))
  }

  /** CTE prefix shared by every DuckDB FX oracle: events→ticks→candle
    * pipeline replicated in portable SQL (row_number picks, IGNORE NULLS
    * carry-forward). 1 group never mixes live+synthetic rows (gap-fill only
    * fires for fully-missing windows), so min/max flatten to plain min/max.
    */
  private val duckRollingActiveSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
      |roll AS (
      |  SELECT d.day, count(DISTINCT u.user_id) AS active
      |  FROM dau d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY d.day)
      |SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, r.active
      |FROM dau d JOIN roll r USING (day)""".stripMargin

  private val duckSeasonalitySql: String =
    """WITH s AS (
      |  SELECT event_type,
      |         CAST(dayofweek(ts) * 24 + hour(ts) AS BIGINT) AS how,
      |         count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
      |       FROM s GROUP BY 1)
      |SELECT s.event_type, s.how, s.n,
      |       CASE WHEN st.sd > 0 THEN round((s.n - st.mu) / st.sd, 6)
      |            ELSE 0.0 END AS z
      |FROM s JOIN st USING (event_type)""".stripMargin

  private val duckCandleCte: String =
    """WITH tw AS (
      |  SELECT 'U' || CAST(user_id AS VARCHAR) AS key, ts,
      |         value AS bid, value AS ask, TRUE AS live,
      |         time_bucket(INTERVAL '1 hour', ts) AS ws
      |  FROM events
      |), wins AS (SELECT DISTINCT ws FROM tw),
      |keys AS (SELECT DISTINCT key FROM tw),
      |synth AS (
      |  SELECT k.key, w.ws + INTERVAL '1 hour' - INTERVAL '1 millisecond' AS ts,
      |         CAST(NULL AS DOUBLE) AS bid, CAST(NULL AS DOUBLE) AS ask,
      |         FALSE AS live, w.ws
      |  FROM wins w CROSS JOIN keys k
      |  WHERE NOT EXISTS (SELECT 1 FROM tw t WHERE t.key = k.key AND t.ws = w.ws)
      |), allt AS (SELECT * FROM tw UNION ALL SELECT * FROM synth),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY key, ws ORDER BY ts DESC) AS rn_close
      |  FROM allt
      |), agg AS (
      |  SELECT key, ws,
      |         min(ask) AS minAsk0, max(ask) AS maxAsk0,
      |         min(bid) AS minBid0, max(bid) AS maxBid0,
      |         max(CASE WHEN rn_close = 1 THEN ts  END) AS closeTs0,
      |         max(CASE WHEN rn_close = 1 THEN ask END) AS closeAsk0,
      |         max(CASE WHEN rn_close = 1 THEN bid END) AS closeBid0,
      |         bool_or(live) AS isLive
      |  FROM r GROUP BY key, ws
      |), cf AS (
      |  SELECT *,
      |    last_value(CASE WHEN isLive THEN closeAsk0 END IGNORE NULLS)
      |      OVER (PARTITION BY key ORDER BY ws
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevAsk,
      |    last_value(CASE WHEN isLive THEN closeBid0 END IGNORE NULLS)
      |      OVER (PARTITION BY key ORDER BY ws
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevBid
      |  FROM agg
      |), patched AS (
      |  SELECT key, ws, isLive, closeTs0, closeAsk0, closeBid0,
      |         CASE WHEN isLive OR prevAsk IS NULL THEN closeAsk0 ELSE prevAsk END AS closeAskP,
      |         CASE WHEN isLive OR prevBid IS NULL THEN closeBid0 ELSE prevBid END AS closeBidP,
      |         minAsk0, maxAsk0, minBid0, maxBid0
      |  FROM cf
      |), candles AS (
      |  -- open := previous PATCHED close; first candle seeds its own raw
      |  -- close. row_number (not coalesce) so a previous synthetic close
      |  -- with null prices still counts as "previous" — matches the Spark
      |  -- side's lag on the whole close struct.
      |  SELECT key,
      |         ws + INTERVAL '1 hour' - INTERVAL '1 millisecond' AS closeTime,
      |         CASE WHEN row_number() OVER w = 1 THEN closeTs0
      |              ELSE lag(closeTs0)  OVER w END AS openStateTime,
      |         CASE WHEN row_number() OVER w = 1 THEN closeAsk0
      |              ELSE lag(closeAskP) OVER w END AS openAsk,
      |         closeTs0  AS closeStateTime,
      |         closeAskP AS closeAsk,
      |         CASE WHEN isLive THEN minAsk0 ELSE closeAskP END AS minAskPrice,
      |         CASE WHEN isLive THEN maxAsk0 ELSE closeAskP END AS maxAskPrice,
      |         CASE WHEN isLive THEN minBid0 ELSE closeBidP END AS minBidPrice,
      |         CASE WHEN isLive THEN maxBid0 ELSE closeBidP END AS maxBidPrice,
      |         isLive
      |  FROM patched
      |  WINDOW w AS (PARTITION BY key ORDER BY ws)
      |)""".stripMargin

  /** Log-returns + sliding-window pair correlation as a DuckDB CTE suffix.
    * Sliding windows via the two 3 h buckets each point belongs to
    * (size 6 h / slide 3 h ⇒ k ∈ {0,1}), matching Spark's `window(ts,6h,3h)`.
    */
  private val duckCorrCte: String =
    """, rets AS (
      |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
      |  FROM candles
      |  WHERE closeAsk > 0 AND openAsk > 0
      |), slid AS (
      |  SELECT time_bucket(INTERVAL '3 hours', ts) - k * INTERVAL '3 hours' AS wstart,
      |         key, ts, ret
      |  FROM rets CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
      |  WHERE ret IS NOT NULL
      |), cnts AS (
      |  SELECT wstart, key, count(*) AS cnt FROM slid GROUP BY 1, 2
      |), pairs AS (
      |  SELECT a.wstart, a.key AS key1, b.key AS key2,
      |         corr(a.ret, b.ret) AS r0, count(*) AS n
      |  FROM slid a JOIN slid b
      |    ON a.wstart = b.wstart AND a.ts = b.ts AND a.key < b.key
      |  GROUP BY a.wstart, a.key, b.key
      |  HAVING count(*) >= 2
      |), pairc AS (
      |  SELECT p.*, p.key1 || ' :: ' || p.key2 AS pair,
      |         cx.cnt AS xCount, cy.cnt AS yCount
      |  FROM pairs p
      |  JOIN cnts cx ON cx.wstart = p.wstart AND cx.key = p.key1
      |  JOIN cnts cy ON cy.wstart = p.wstart AND cy.key = p.key2
      |)""".stripMargin

  /** Underlying-series replay tail (shared by the denormalized
    * `fx_corr_underlying` gate and its normalized fact/dimension twin
    * `fx_corr_underlying_norm`, which must reconstruct the SAME payload):
    * the per-(window, key) points re-joined to each thresholded pair side,
    * one row per array element, idx mirroring posexplode's ts order.
    */
  private val duckUnderlyingSql: String = duckCandleCte + duckCorrCte +
    """, thr AS (
      |  SELECT wstart, key1, key2,
      |         round(greatest(-1.0, least(1.0, r0)), 6) AS r
      |  FROM pairc
      |  WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
      |    AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5),
      |sides AS (
      |  SELECT t.wstart, t.key1, t.key2, t.r, 'x' AS side, s.ts, s.ret
      |  FROM thr t JOIN slid s ON s.wstart = t.wstart AND s.key = t.key1
      |  UNION ALL
      |  SELECT t.wstart, t.key1, t.key2, t.r, 'y' AS side, s.ts, s.ret
      |  FROM thr t JOIN slid s ON s.wstart = t.wstart AND s.key = t.key2)
      |SELECT wstart, key1, key2, r, side,
      |       row_number() OVER (PARTITION BY wstart, key1, key2, side
      |                          ORDER BY ts) - 1 AS idx,
      |       epoch_us(ts) AS pts, round(ret, 6) AS pret
      |FROM sides""".stripMargin

  /** Bounded top-k correlation partners (shared by the batch fx_corr_topk
    * gate and its streaming twin stream_corr_topk): top-3 per (window, key)
    * among live pairs clearing |r| >= 0.5, ranked on the rounded value with
    * the numeric-partner-id tiebreak the packed aggregate orders on.
    */
  private val duckCorrTopkSql: String = duckCandleCte + duckCorrCte +
    """, v AS (
      |  SELECT wstart, key1, key2,
      |         round(greatest(-1.0, least(1.0, r0)), 6) AS r, n
      |  FROM pairs
      |  WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
      |    AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5),
      |sym AS (
      |  SELECT wstart, key1 AS key, key2 AS partner, r, n FROM v
      |  UNION ALL
      |  SELECT wstart, key2 AS key, key1 AS partner, r, n FROM v),
      |rk AS (
      |  SELECT wstart, key, partner, r, n,
      |         row_number() OVER (PARTITION BY wstart, key
      |           ORDER BY abs(r) DESC, r DESC,
      |                    CAST(substr(partner, 2) AS BIGINT)) AS rnk
      |  FROM sym)
      |SELECT wstart, key, partner, r, n, CAST(rnk AS BIGINT) AS rnk
      |FROM rk WHERE rnk <= 3""".stripMargin

  /** fx_corr_topk through a REAL dictionary ([[Ranking.dictionaryIds]]):
    * ids are the keys' own sort ranks, so the packed numeric tiebreak
    * equals partner-STRING ascending order — which is what this oracle
    * ranks on (vs the numeric-suffix tiebreak above: "U10" < "U2" here).
    */
  private val duckCorrTopkDictSql: String = duckCandleCte + duckCorrCte +
    """, v AS (
      |  SELECT wstart, key1, key2,
      |         round(greatest(-1.0, least(1.0, r0)), 6) AS r, n
      |  FROM pairs
      |  WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
      |    AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5),
      |sym AS (
      |  SELECT wstart, key1 AS key, key2 AS partner, r, n FROM v
      |  UNION ALL
      |  SELECT wstart, key2 AS key, key1 AS partner, r, n FROM v),
      |rk AS (
      |  SELECT wstart, key, partner, r, n,
      |         row_number() OVER (PARTITION BY wstart, key
      |           ORDER BY abs(r) DESC, r DESC, partner) AS rnk
      |  FROM sym)
      |SELECT wstart, key, partner, r, n, CAST(rnk AS BIGINT) AS rnk
      |FROM rk WHERE rnk <= 3""".stripMargin

  /** DuckDB mirror of [[Dedup.simHash]]: md5→60-bit packed fingerprint,
    * bit-exact with the Spark expression. Shared by the fingerprint and
    * pair-join gates.
    */
  private val duckSimhashCte: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |th AS (
      |  SELECT doc_id,
      |         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u),
      |bits AS (
      |  SELECT doc_id, b,
      |         CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |              THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bit
      |  FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
      |sim AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB mirror of [[Multimodal.designedDHash]]: the a-priori expected
    * perceptual hash of each synthetic image, as pure id arithmetic —
    * md5-derived 60-bit group base XOR the member's designed flip mask
    * (384307168202282325 = 0x555555555555555, member 3's alternating-bit
    * mask). Shared by the hash and pair gates; the pair oracle verifies
    * ALL pairs at Hamming ≤ 3 directly (the banded engine relation equals
    * it exactly by pigeonhole).
    */
  private val duckDhashCte: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents),
      |h AS (
      |  SELECT id,
      |         xor(CAST(concat('0x', substr(md5(CAST(g AS VARCHAR)), 1, 15)) AS BIGINT),
      |             CASE m
      |               WHEN 0 THEN CAST(0 AS BIGINT)
      |               WHEN 1 THEN xor(CAST(1 AS BIGINT) << CAST((2*g) % 60 AS INT),
      |                               CAST(1 AS BIGINT) << CAST((2*g+31) % 60 AS INT))
      |               WHEN 2 THEN CAST(63 AS BIGINT) << CAST((3*g) % 54 AS INT)
      |               ELSE CAST(384307168202282325 AS BIGINT) << CAST(g % 2 AS INT)
      |             END) AS dhash
      |  FROM ids)""".stripMargin

  /** DuckDB mirror of [[Dedup.minHashLsh]] up through exact-Jaccard pairs
    * (`jacs`). No leading WITH — callers prefix `WITH ` or `WITH RECURSIVE `.
    */
  private val duckMinhashCte: String =
    """t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT id, sh FROM (
      |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
      |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
      |    FROM t) u
      |  WHERE len(string_split(sh, ' ')) = 3)
      |,
      |hs AS (
      |  SELECT DISTINCT id,
      |         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
      |  FROM sh),
      |sig AS (
      |  SELECT id, i, min(((2 * i + 1) * h + 7919 * (i + 1)) % 2147483647) AS mh
      |  FROM hs CROSS JOIN range(32) r(i) GROUP BY id, i),
      |bands AS (
      |  SELECT id, i // 4 AS band,
      |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
      |  FROM sig GROUP BY id, i // 4),
      |cand AS (
      |  SELECT DISTINCT a.id AS id1, b.id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id1, b.id AS id2, count(*) AS i
      |  FROM sh a JOIN cand ON a.id = cand.id1
      |  JOIN sh b ON b.id = cand.id2 AND a.sh = b.sh
      |  GROUP BY 1, 2),
      |jacs AS (
      |  SELECT id1, id2,
      |         round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jac
      |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)""".stripMargin

  /** Span-excision oracle, shared verbatim by `dedup_excise` and its
    * streaming twin `stream_excise` — the replay's per-epoch union must
    * equal the batch result exactly, so both gates check the same SQL.
    */
  private val duckExciseSql: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
      |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
      |  WHERE len(toks) >= 8),
      |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2),
      |occ AS (SELECT g.doc_id, g.pos,
      |        row_number() OVER (PARTITION BY g.k ORDER BY g.doc_id, g.pos) AS rn
      |        FROM g JOIN dup d ON g.k = d.k),
      |ex AS (SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + 7 AS BIGINT) AS e FROM occ WHERE rn >= 2),
      |isl AS (SELECT doc_id, s, e,
      |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
      |        FROM ex),
      |isl2 AS (SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp FROM isl),
      |m AS (SELECT doc_id, min(s) AS rs, max(e) AS re FROM isl2 GROUP BY doc_id, grp),
      |rem AS (SELECT doc_id, CAST(sum(re - rs + 1) AS BIGINT) AS n_removed,
      |        list(struct_pack(rs := rs, re := re)) AS ivs FROM m GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |       coalesce(rem.n_removed, 0) AS n_removed,
      |       coalesce(array_to_string(
      |         CASE WHEN rem.n_removed IS NULL THEN toks
      |         ELSE list_transform(
      |            list_filter(range(len(toks)),
      |              i -> len(list_filter(rem.ivs, iv -> i >= iv.rs AND i <= iv.re)) = 0),
      |            i -> toks[i+1])
      |         END, ' '), '') AS text_clean
      |FROM t LEFT JOIN rem ON t.doc_id = rem.doc_id""".stripMargin

  /** DuckDB mirrors of the four query-set ANN gates, extracted so the
    * recall gate can reuse them verbatim as subqueries — the recall oracle
    * must measure EXACTLY the gated methods, not a re-derivation.
    */
  private val duckAnnTopkSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |s AS (
      |  SELECT q_id, e.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** Shared-trigram contamination oracle — used by both the broadcast gate
    * (`text_contamination`) and the Bloom-prefiltered shuffle-join gate
    * (`contamination_bloom`), whose outputs are identical by construction.
    */
  private val duckContaminationSql: String =
    """WITH t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT id, sh FROM (
      |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
      |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
      |    FROM t) u
      |  WHERE len(string_split(sh, ' ')) = 3),
      |d AS (SELECT id AS doc_id, sh FROM sh WHERE id % 97 <> 0),
      |b AS (SELECT id AS bench_id, sh FROM sh WHERE id % 97 = 0)
      |SELECT d.doc_id, b.bench_id, count(*) AS shared
      |FROM d JOIN b USING (sh)
      |GROUP BY 1, 2
      |HAVING count(*) >= 2""".stripMargin

  /** DuckDB VALUES literal of the 16×64 JL projection matrix — generated
    * from the SAME [[graft.operators.Similarity.planeMatrix]] the Spark
    * gates bake into their plans (Double.toString round-trips, so both
    * engines parse identical IEEE doubles). Dim 64 is the test corpus'
    * embedding width.
    */
  private val duckRpMatrix: String =
    Similarity.planeMatrix(16, 64).zipWithIndex.map { case (row, j) =>
      // CAST: a bare list literal types as DECIMAL[], which would round
      // the matrix away from the IEEE doubles the Spark plan carries
      s"($j, CAST([${row.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(", ")

  /** Projected coordinates in long form — shared by the projection gate
    * and the reduced-dimension top-k on top of it.
    */
  private val duckRpProjCte: String =
    s"""m(j, row) AS (VALUES $duckRpMatrix),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings),
       |pj AS (SELECT vec_id, j,
       |              round(list_dot_product(v, row) / ${Similarity.rpScale(16)},
       |                    6) AS p
       |       FROM e0 CROSS JOIN m)""".stripMargin

  private val duckRpTopkSql: String =
    s"""WITH $duckRpProjCte,
       |p AS (SELECT vec_id, list(p ORDER BY j) AS v FROM pj GROUP BY 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM p WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT q_id, p.vec_id AS neighbor,
       |         round(list_dot_product(v, qv)
       |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
       |  FROM p CROSS JOIN q WHERE p.vec_id <> q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
       |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB mirror of [[graft.operators.Similarity.nnDescent]] (k=5,
    * iters=2, seedBuckets=100): the fixed-depth NN-Descent build unrolled —
    * seed cohort ranking, then per round the undirected adjacency, its
    * neighbor-of-neighbor join, and a re-rank. Generated by a Scala loop so
    * the round body is written once and the round count provably matches
    * the gate's `iters`.
    */
  private val duckAnnGraphIters = 2

  /** WITH-body replaying [[graft.operators.Similarity.nnDescent]] through
    * its final ranked graph `g2` — shared by the graph gate and the beam
    * search on top of it.
    */
  private val duckAnnGraphCte: String = {
    def scoreRank(i: Int): String =
      s"""s$i AS (SELECT c.vec_id, c.neighbor,
         |            round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cos
         |     FROM c$i c JOIN en x ON c.vec_id = x.vec_id
         |                JOIN en y ON c.neighbor = y.vec_id),
         |g$i AS (SELECT vec_id, neighbor, cos, rk FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                      ORDER BY cos DESC, neighbor) AS rk
         |         FROM s$i)
         |      WHERE rk <= 5)""".stripMargin
    def nextCand(i: Int): String =
      s"""r$i AS (SELECT vec_id, neighbor FROM
         |        (SELECT neighbor AS vec_id, vec_id AS neighbor, cos,
         |                row_number() OVER (PARTITION BY neighbor
         |                                   ORDER BY cos DESC, vec_id) AS rrk
         |         FROM g$i)
         |      WHERE rrk <= 10),
         |u$i AS (SELECT vec_id, neighbor FROM g$i
         |      UNION ALL SELECT vec_id, neighbor FROM r$i),
         |c${i + 1} AS (SELECT DISTINCT vec_id, neighbor FROM
         |        (SELECT vec_id, neighbor FROM u$i
         |         UNION ALL
         |         SELECT a.vec_id, b.neighbor FROM u$i a JOIN u$i b ON a.neighbor = b.vec_id)
         |       WHERE vec_id <> neighbor)""".stripMargin
    val iters = duckAnnGraphIters
    val rounds = (0 until iters)
      .map(i => scoreRank(i) + ",\n" + nextCand(i) + ",\n").mkString
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |bk AS (SELECT vec_id, t,
       |              CAST(concat('0x', substr(md5('seed:' || CAST(t AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bk
       |       FROM e CROSS JOIN (SELECT 0 AS t UNION ALL SELECT 1) ts),
       |c0 AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor
       |       FROM bk a JOIN bk b ON a.t = b.t AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       |$rounds${scoreRank(iters)}""".stripMargin
  }

  private val duckAnnGraphSql: String =
    s"""WITH $duckAnnGraphCte
       |SELECT vec_id, neighbor, cos, CAST(rk AS BIGINT) AS rk
       |FROM g$duckAnnGraphIters""".stripMargin

  /** Beam search over the replayed kNN graph, unrolled hop-by-hop —
    * mirrors [[graft.operators.Similarity.graphSearch]] term-for-term
    * (fixed smallest-id entry points, 6-dp cosines, id tie-breaks).
    */
  private val duckGraphSearchSql: String = {
    val (k, beam, hops) = (5, 10, 3)
    def score(in: String, out: String): String =
      s"""$out AS (SELECT c.qid, c.vec_id,
         |         round(list_dot_product(x.v, q.qv) / (x.nrm * q.qnrm), 6) AS cos
         |     FROM $in c JOIN en x ON c.vec_id = x.vec_id
         |                JOIN qs q ON c.qid = q.qid)""".stripMargin
    def topBeam(in: String, out: String): String =
      s"""$out AS (SELECT qid, vec_id, cos FROM
         |        (SELECT *, row_number() OVER (PARTITION BY qid
         |                                      ORDER BY cos DESC, vec_id) AS rk
         |         FROM $in)
         |      WHERE rk <= $beam)""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      s"""hc$h AS (SELECT DISTINCT f${h - 1}.qid, g.neighbor AS vec_id
         |       FROM f${h - 1} JOIN und g
         |         ON f${h - 1}.vec_id = g.vec_id),
         |${score(s"hc$h", s"hs$h")},
         |ha$h AS (SELECT DISTINCT qid, vec_id, cos FROM
         |        (SELECT qid, vec_id, cos FROM f${h - 1}
         |         UNION ALL SELECT qid, vec_id, cos FROM hs$h)),
         |${topBeam(s"ha$h", s"f$h")}""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckAnnGraphCte,
       |und AS (SELECT DISTINCT vec_id, neighbor FROM
       |        (SELECT vec_id, neighbor FROM g$duckAnnGraphIters
       |         UNION ALL
       |         SELECT neighbor AS vec_id, vec_id AS neighbor
       |         FROM g$duckAnnGraphIters)),
       |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en
       |       WHERE vec_id % 50 = 0),
       |ent AS (SELECT vec_id FROM en WHERE vec_id % 10 = 0),
       |ec AS (SELECT q.qid, e.vec_id FROM qs q CROSS JOIN ent e),
       |${score("ec", "es")},
       |${topBeam("es", "f0")},
       |$hopCtes
       |SELECT qid, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM
       |  (SELECT *, row_number() OVER (PARTITION BY qid
       |                                ORDER BY cos DESC, vec_id) AS rk
       |   FROM f$hops WHERE vec_id <> qid)
       |WHERE rk <= $k""".stripMargin
  }

  private val duckBpeSteps = 6

  /** WITH-body replaying [[graft.operators.Bpe.train]]'s merge loop,
    * unrolled one block per round (same style as [[duckAnnGraphCte]]):
    * count adjacent pairs weighted by word freq → 1-row argmax with the
    * (cnt desc, l, r) tie order → greedy non-overlapping merge. Greedy
    * left-to-right is replayed as islands-parity: consecutive match
    * positions (only possible when l = r) form an island, and exactly the
    * odd-ranked positions within each island are merge starts — provably
    * the fold [[graft.operators.Bpe.mergePair]] computes.
    */
  private val duckBpeCte: String = {
    def round(r: Int): String = {
      val p = r - 1
      s"""c$r AS MATERIALIZED (SELECT sym[i+1] AS l, sym[i+2] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
         |       FROM s$p, UNNEST(range(len(sym) - 1)) AS u(i) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r2, cnt FROM c$r ORDER BY cnt DESC, l, r2 LIMIT 1),
         |e$r AS MATERIALIZED (SELECT w, freq, i AS pos, sym[i+1] AS s
         |       FROM s$p, UNNEST(range(len(sym))) AS u(i)),
         |f$r AS MATERIALIZED (SELECT w, freq, pos, s,
         |              lead(s) OVER (PARTITION BY w ORDER BY pos) AS nx
         |       FROM e$r),
         |h$r AS MATERIALIZED (SELECT *, CASE WHEN s = (SELECT l FROM b$r)
         |                        AND nx = (SELECT r2 FROM b$r)
         |                  THEN 1 ELSE 0 END AS mt FROM f$r),
         |g$r AS MATERIALIZED (SELECT w, pos,
         |              pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
         |       FROM h$r WHERE mt = 1),
         |k$r AS MATERIALIZED (SELECT w, pos FROM (
         |         SELECT w, pos, row_number() OVER (PARTITION BY w, isl ORDER BY pos) AS ri
         |         FROM g$r) WHERE ri % 2 = 1),
         |s$r AS MATERIALIZED (SELECT f.w, f.freq,
         |              list(CASE WHEN k.pos IS NOT NULL THEN f.s || f.nx ELSE f.s END ORDER BY f.pos) AS sym
         |       FROM h$r f LEFT JOIN k$r k ON f.w = k.w AND f.pos = k.pos
         |       WHERE NOT EXISTS (SELECT 1 FROM k$r kk WHERE kk.w = f.w AND kk.pos = f.pos - 1)
         |       GROUP BY f.w, f.freq)""".stripMargin
    }
    s"""words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS sym FROM words),
       |${(1 to duckBpeSteps).map(round).mkString(",\n")}""".stripMargin
  }

  // each round's row appears only when its count clears minCount = 2 — at
  // the gated SFs every round does (the corpus vocabulary is Zipfian with
  // thousands of occurrences per word), so the two engines emit the same
  // 6-row model; exhaustion behavior itself is pinned by BpeSpec
  private val duckBpeSql: String =
    s"""WITH $duckBpeCte
       |${(1 to duckBpeSteps).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS step, l AS "left", r2 AS "right", cnt AS pair_count FROM b$r WHERE cnt >= 2""")
        .mkString("\nUNION ALL\n")}""".stripMargin

  private val duckBpeEncodeSql: String =
    s"""WITH $duckBpeCte
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS n
       |FROM s$duckBpeSteps, UNNEST(sym) AS t(piece)
       |GROUP BY 1""".stripMargin

  private val duckAnnQuantizedSql: String =
    """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |sc AS (SELECT vec_id, v0,
      |              list_max(list_transform(v0, x -> abs(x))) / 127.0 AS s
      |       FROM e0),
      |e AS (SELECT vec_id,
      |             CASE WHEN s = 0 THEN list_transform(v0, x -> 0.0)
      |                  ELSE list_transform(v0, x -> round(x / s) * s) END AS v
      |      FROM sc),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |s2 AS (
      |  SELECT q_id, e.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s2)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  private val duckAnnLshSql: String =
    """WITH planes AS (
      |  SELECT b, list_transform(range(64), d ->
      |    CAST(concat('0x', substr(md5('plane:' || b || ':' || d), 1, 15)) AS BIGINT)
      |      / (1.1529215046068467e18 / 2.0) - 1.0) AS pv
      |  FROM range(12) r(b)),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sigs AS (
      |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
      |                          THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sig
      |  FROM e CROSS JOIN planes GROUP BY vec_id),
      |es AS (SELECT e.vec_id, v, sig FROM e JOIN sigs USING (vec_id)),
      |q AS (SELECT vec_id AS q_id, v AS qv, sig AS qsig FROM es WHERE vec_id % 50 = 0),
      |s AS (
      |  SELECT q_id, es.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM es CROSS JOIN q
      |  WHERE bit_count(xor(sig, qsig)) <= 2 AND es.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  private val duckAnnIvfSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 0),
      |asg AS (
      |  SELECT vec_id, v, nrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |           row_number() OVER (PARTITION BY n.vec_id
      |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
      |                      c.c_id) AS rn
      |    FROM n CROSS JOIN cents c) t
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
      |probes AS (
      |  SELECT q_id, qv, qnrm, c_id FROM (
      |    SELECT q.q_id, q.qv, q.qnrm, c.c_id,
      |           row_number() OVER (PARTITION BY q.q_id
      |             ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
      |                      c.c_id) AS rn
      |    FROM q CROSS JOIN cents c) t
      |  WHERE rn <= 2),
      |s AS (
      |  SELECT q_id, a.vec_id AS neighbor,
      |         round(list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm), 6) AS cos
      |  FROM probes p JOIN asg a USING (c_id)
      |  WHERE a.vec_id <> p.q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB mirror of [[Similarity.kMeans]](k=8, iters=3): Lloyd unrolled —
    * seeds = 8 smallest-id vectors, argmin ties → smallest cluster id,
    * centroid means rounded to 6 each iteration, empty clusters carry the
    * previous centroid. Same pinning as the Spark side, so assignments are
    * engine-exact.
    */
  /** The k-means CTE chain (embeddings view `e`, seeds `c0`, per-round
    * dist/assign/means, final assignment `a3`) — shared by the ann_kmeans
    * gate and dedup_semantic's cluster replay.
    */
  private val duckKmeansCtes: String = {
    val iters = 3
    def dist(n: Int, cents: String) =
      s"""d$n AS (
         |  SELECT e.vec_id, c.cid,
         |         list_sum(list_transform(range(len(e.v)),
         |           i -> (e.v[i+1] - c.cv[i+1]) * (e.v[i+1] - c.cv[i+1]))) AS dist
         |  FROM e CROSS JOIN $cents c)""".stripMargin
    def assign(n: Int) =
      s"""a$n AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$n) t
         |  WHERE rn = 1)""".stripMargin
    def means(n: Int) =
      s"""m$n AS (
         |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |    SELECT a$n.cid, u.pos, round(avg(u.x), 6) AS m
         |    FROM a$n JOIN (
         |      SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS pos
         |      FROM e) u USING (vec_id)
         |    GROUP BY a$n.cid, u.pos) g
         |  GROUP BY cid),
         |k$n AS (
         |  SELECT p.cid, coalesce(nw.cv, p.cv) AS cv
         |  FROM ${if (n == 1) "c0" else s"k${n - 1}"} p
         |  LEFT JOIN m$n nw ON nw.cid = p.cid)""".stripMargin
    val rounds = (1 until iters).map(n =>
      dist(n, if (n == 1) "c0" else s"k${n - 1}") + ",\n" + assign(n) + ",\n" +
        means(n)).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM e ORDER BY vec_id LIMIT 8),
       |$rounds,
       |${dist(iters, s"k${iters - 1}")},
       |${assign(iters)}""".stripMargin
  }

  private val duckKmeansSql: String =
    duckKmeansCtes + "\nSELECT vec_id, CAST(cid AS INTEGER) AS cluster FROM a3"

  /** PQ replay: per-subspace k-means codebooks (same deterministic Lloyd
    * as the ann_kmeans CTEs, over 16-dim slices), corpus codes by nearest
    * codeword, then asymmetric-distance top-5 — summation and tie-break
    * order mirror the Spark side exactly.
    */
  private def duckPqSqlAt(topk: Int): String = {
    // must mirror Similarity.pqTopK's defaults: m=16 4-dim subspaces,
    // 16 codewords, 3 Lloyd iterations (2 means updates + final assign);
    // topk=5 is the ann_pq gate, topk=pqRerankShortlist (100) the
    // ann_pq_rerank shortlist
    val m = 16; val k = 16; val sub = 4; val iters = 3
    val stride = 50
    def subspace(i: Int): String = {
      val lo = i * sub + 1; val hi = (i + 1) * sub
      def dist(n: Int, cents: String) =
        s"""d${n}_$i AS (
           |  SELECT e.vec_id, c.cid,
           |         list_sum(list_transform(range(len(e.v)),
           |           j -> (e.v[j+1] - c.cv[j+1]) * (e.v[j+1] - c.cv[j+1]))) AS dist
           |  FROM e_$i e CROSS JOIN $cents c)""".stripMargin
      def assign(n: Int) =
        s"""a${n}_$i AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d${n}_$i) t
           |  WHERE rn = 1)""".stripMargin
      def means(n: Int) =
        s"""m${n}_$i AS (
           |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a${n}_$i.cid, u.pos, round(avg(u.x), 6) AS m
           |    FROM a${n}_$i JOIN (
           |      SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS pos
           |      FROM e_$i) u USING (vec_id)
           |    GROUP BY a${n}_$i.cid, u.pos) g
           |  GROUP BY cid),
           |k${n}_$i AS (
           |  SELECT p.cid, coalesce(nw.cv, p.cv) AS cv
           |  FROM ${if (n == 1) s"c0_$i" else s"k${n - 1}_$i"} p
           |  LEFT JOIN m${n}_$i nw ON nw.cid = p.cid)""".stripMargin
      val rounds = (1 until iters).map(n =>
        dist(n, if (n == 1) s"c0_$i" else s"k${n - 1}_$i") + ",\n" +
          assign(n) + ",\n" + means(n)).mkString(",\n")
      s"""e_$i AS (SELECT vec_id, list_slice(v, $lo, $hi) AS v FROM e),
         |c0_$i AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         |  FROM e_$i ORDER BY vec_id LIMIT $k),
         |$rounds,
         |${dist(iters, s"k${iters - 1}_$i")},
         |${assign(iters)},
         |qd_$i AS (
         |  SELECT q.vec_id AS qid, c.cid,
         |         list_sum(list_transform(range(len(q.v)),
         |           j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1]))) AS dist
         |  FROM e_$i q CROSS JOIN k${iters - 1}_$i c
         |  WHERE q.vec_id % $stride = 0)""".stripMargin
    }
    val fin = s"a${iters}_"
    val adist = (0 until m).map(i => s"t$i.dist").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${(0 until m).map(subspace).mkString(",\n")},
       |qids AS (SELECT vec_id AS qid FROM e WHERE vec_id % $stride = 0),
       |sc AS (
       |  SELECT q.qid, ${fin}0.vec_id, round($adist, 6) AS adist
       |  FROM ${fin}0 ${(1 until m).map(i => s"JOIN $fin$i USING (vec_id)").mkString(" ")}
       |  CROSS JOIN qids q
       |  ${(0 until m).map(i => s"JOIN qd_$i t$i ON t$i.qid = q.qid AND t$i.cid = $fin$i.cid").mkString("\n  ")}
       |  WHERE ${fin}0.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |      FROM sc)
       |SELECT qid AS q_id, vec_id AS neighbor, adist, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk <= $topk""".stripMargin
  }

  private val duckPqSql: String = duckPqSqlAt(5)

  /** ADC shortlist size shared by the ann_pq_rerank GATE and its oracle —
    * one constant so the two can never drift apart (recall@5 = 0.94 was
    * measured at 100; the Similarity.pqRerankTopK parameter default of 50
    * is the operator's own, the gate always passes this).
    */
  private val pqRerankShortlist = 100

  /** Shared by the in-order and out-of-order candle replay gates — the
    * late twin must hit the SAME oracle bytes. */
  private lazy val duckStreamCandlesSql: String = duckCandleCte +
    """
      |SELECT key, closeTime, openStateTime, closeStateTime,
      |       minAskPrice, maxAskPrice, minBidPrice, maxBidPrice, isLive
      |FROM candles""".stripMargin

  /** Shared by the in-order and out-of-order correlation replay gates. */
  private lazy val duckStreamCorrSql: String = duckCandleCte + duckCorrCte +
    """
      |SELECT wstart, key1, key2,
      |       round(greatest(-1.0, least(1.0, r0)), 6) AS r, n
      |FROM pairs
      |WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
      |  AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin

  /** PQ shortlist→exact re-rank replay: the ADC top-[[pqRerankShortlist]]
    * shortlist is the full [[duckPqSqlAt]] chain as a subquery (so the
    * rerank oracle can never drift from ann_pq's), then exact rounded
    * cosine on the raw vectors, re-ranked to top-5 with
    * [[Similarity.bruteForceTopK]]'s ordering.
    */
  private val duckPqRerankSql: String =
    s"""WITH sl AS (SELECT q_id, neighbor FROM (${duckPqSqlAt(pqRerankShortlist)}) x),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT sl.q_id, sl.neighbor,
       |         round(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cos
       |  FROM sl JOIN n ON n.vec_id = sl.neighbor JOIN q ON q.q_id = sl.q_id),
       |r AS (SELECT q_id, neighbor, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |      FROM s)
       |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** All same-user (click, purchase) pairs with the purchase inside the
    * 60-minute horizon — shared by the batch gate and its stream-stream
    * join twin (replay union equals the batch join row-for-row).
    */
  /** Market-basket co-occurrence with lift (ev_cooccurrence + its
    * streaming twin). */
  private val duckCooccurrenceSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |m AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
      |t AS (SELECT count(DISTINCT user_id) AS tot FROM ut)
      |SELECT a.event_type AS item_a, b.event_type AS item_b,
      |       count(*) AS n_both,
      |       round(count(*) * t.tot / (ma.n * mb.n), 6) AS lift
      |FROM ut a
      |JOIN ut b ON a.user_id = b.user_id
      |         AND a.event_type < b.event_type
      |JOIN m ma ON ma.event_type = a.event_type
      |JOIN m mb ON mb.event_type = b.event_type
      |CROSS JOIN t
      |GROUP BY a.event_type, b.event_type, t.tot, ma.n, mb.n""".stripMargin

  /** Top-3 event types per 6 h tumbling window (ev_trending + its
    * streaming twin). */
  private val duckTrendingSql: String =
    """WITH c AS (
      |  SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart,
      |         event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT wstart, event_type, n,
      |         row_number() OVER (PARTITION BY wstart
      |           ORDER BY n DESC, event_type) AS rnk
      |  FROM c)
      |SELECT wstart, event_type, n, rnk FROM r WHERE rnk <= 3""".stripMargin

  private val duckAttributionSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 60 MINUTE""".stripMargin

  /** Left-outer variant: every click, null-extended when unconverted. */
  private val duckAttributionOuterSql: String =
    """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      |     p AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM c LEFT JOIN p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 60 MINUTE""".stripMargin

  /** SemDeDup replay: final k-means assignment, then within-cluster
    * keep-first pruning at the same rounded-cosine threshold the Spark
    * side applies.
    */
  private val duckSemanticSql: String =
    duckKmeansCtes + """,
      |ev AS (SELECT e.vec_id, a3.cid AS cluster, e.v
      |       FROM e JOIN a3 USING (vec_id)),
      |p AS (SELECT b.vec_id AS vid, min(a.vec_id) AS dup_of
      |      FROM ev a JOIN ev b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |      WHERE round(list_dot_product(a.v, b.v)
      |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
      |      GROUP BY b.vec_id)
      |SELECT ev.vec_id, CAST(ev.cluster AS BIGINT) AS cluster,
      |       (p.dup_of IS NOT NULL) AS is_dup, p.dup_of
      |FROM ev LEFT JOIN p ON p.vid = ev.vec_id""".stripMargin

  /** Mirrors Sampling.mixture's all-integer thresholds: T = min_i
    * (n_i*1000 // w_i), k_i = w_i*T // 1000, accept iff hash < k_i*10^6
    * // n_i — integer ops only, so the row set is engine-exact. Shared by
    * the batch gate and its streaming replay twin (same accepted set by
    * construction: membership is row-local given the thresholds).
    */
  private val duckMixtureSql: String =
    """WITH s0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
      |s1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
      |s2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
      |c AS (SELECT (SELECT COUNT(*) FROM s0) AS n0,
      |             (SELECT COUNT(*) FROM s1) AS n1,
      |             (SELECT COUNT(*) FROM s2) AS n2),
      |t AS (SELECT n0, n1, n2,
      |        LEAST(n0*1000//600, n1*1000//300, n2*1000//100) AS tt FROM c),
      |th AS (SELECT ((600*tt//1000)*1000000)//n0 AS t0,
      |              ((300*tt//1000)*1000000)//n1 AS t1,
      |              ((100*tt//1000)*1000000)//n2 AS t2 FROM t)
      |SELECT 'c0' AS source, doc_id FROM s0, th
      |WHERE CAST(concat('0x', substr(md5('c0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t0
      |UNION ALL
      |SELECT 'c1' AS source, doc_id FROM s1, th
      |WHERE CAST(concat('0x', substr(md5('c1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t1
      |UNION ALL
      |SELECT 'c2' AS source, doc_id FROM s2, th
      |WHERE CAST(concat('0x', substr(md5('c2:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t2""".stripMargin

  /** Mirrors Packing.packSequences: global exclusive prefix sum of
    * n_tokens in doc_id order, then integer div/mod against the 2048
    * budget (the Spark side computes the same values via the two-level
    * distributed prefix sum — the oracle's single window is the spec).
    * Shared by the one-shot gate and the incremental-extension twin
    * (append-only increments in id order compose to the same manifest).
    */
  private val duckPackSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (SELECT doc_id, n_tokens,
      |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |      FROM t)
      |SELECT doc_id, n_tokens, tok_start,
      |       tok_start // 2048 AS seq_id,
      |       tok_start % 2048 AS seq_offset,
      |       (tok_start + GREATEST(n_tokens, 1) - 1) // 2048 - tok_start // 2048 + 1 AS spans
      |FROM p""".stripMargin

  /** PSI replay: clamp-binning, eps-guarded fractions, (p−q)·ln(p/q)
    * contributions, every float rounded at 6 dp. Shared by the batch
    * drift gate and its ingest twin (bin counts merge associatively).
    */
  private val duckDriftSql: String =
    """WITH r AS (
      |  SELECT LEAST(GREATEST(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS bin,
      |         count(*) AS n_ref
      |  FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1),
      |c AS (
      |  SELECT LEAST(GREATEST(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS bin,
      |         count(*) AS n_cur
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
      |s AS (SELECT unnest(range(20)) AS bin),
      |j AS (
      |  SELECT s.bin, coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur,
      |         (SELECT sum(n_ref) FROM r) AS tr, (SELECT sum(n_cur) FROM c) AS tc
      |  FROM s LEFT JOIN r ON s.bin = r.bin LEFT JOIN c ON s.bin = c.bin),
      |f AS (
      |  SELECT bin, n_ref, n_cur,
      |         GREATEST(coalesce(CAST(n_ref AS DOUBLE) / nullif(tr, 0), 0), 1e-6) AS p,
      |         GREATEST(coalesce(CAST(n_cur AS DOUBLE) / nullif(tc, 0), 0), 1e-6) AS q
      |  FROM j)
      |SELECT bin, n_ref, n_cur, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
      |       round((p - q) * ln(p / q), 6) AS contrib
      |FROM f""".stripMargin

  /** Sliding-window chunk replay: integer chunk-count arithmetic + token
    * slices re-joined with single spaces. Shared by the batch gate and its
    * streaming twin (row-local ⇒ identical output under replay).
    */
  private val duckChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |c AS (SELECT doc_id, toks, n,
      |        unnest(range((GREATEST(n - 64, 0) + 47) // 48 + 1)) AS chunk_id
      |      FROM n)
      |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
      |       LEAST(64, n - chunk_id * 48) AS n_tokens,
      |       array_to_string(list_slice(toks, chunk_id * 48 + 1,
      |         chunk_id * 48 + LEAST(64, n - chunk_id * 48)), ' ') AS chunk_text
      |FROM c""".stripMargin

  /** Recursive connected-components suffix over [[duckMinhashCte]]'s `jacs`
    * pairs (append after it under `WITH RECURSIVE`): exposes `labels` =
    * (id, min reachable id). Shared by the components and survivors gates.
    */
  private val duckComponentsCte: String =
    """,
      |cc_pairs AS (SELECT id1, id2 FROM jacs WHERE jac >= 0.5),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM cc_pairs
      |  UNION SELECT id2, id1 FROM cc_pairs),
      |reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)""".stripMargin

  /** Gaps-and-islands form of a 30-minute session window over `events` —
    * the oracle for both the batch (`ev_session`) and streaming
    * (`stream_session`) gates, which are bit-identical by construction.
    */
  private val duckSessionSql: String =
    """WITH d AS (
      |  SELECT user_id, ts,
      |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   > INTERVAL '30 minutes' OR
      |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |              THEN 1 ELSE 0 END AS brk,
      |         value
      |  FROM events
      |), g AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d
      |)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL '30 minutes' AS session_end,
      |       count(*) AS n, round(sum(value), 4) AS sum_v
      |FROM g GROUP BY user_id, sid""".stripMargin

  /** Sequential conditional-min formulation of the ordered funnel — oracle
    * for both the one-shuffle batch array walk (`ev_funnel`) and the keyed
    * greedy state walk (`stream_funnel`), which are equal by construction.
    */
  private val duckFunnelSql: String =
    """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
      |       JOIN s0 ON e.user_id = s0.user_id
      |       WHERE e.event_type = 'click' AND e.ts >= s0.t0 GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts >= s1.t1 GROUP BY 1)
      |SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
      |UNION ALL SELECT 1, 'click', count(*) FROM s1
      |UNION ALL SELECT 2, 'purchase', count(*) FROM s2""".stripMargin

  /** Morton interleave + linear min/max quantizer, mirroring
    * [[graft.operators.Layout]] term-for-term (same IEEE-double expression
    * order, so z-values match bit-for-bit).
    */
  private val duckZorderSql: String = {
    val inter = (0 until 8).flatMap(i => Seq(
      s"(((qu >> $i) & 1) << ${2 * i})",
      s"(((qv >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
       |             min(cents) AS mnc, max(cents) AS mxc FROM e),
       |q AS (SELECT event_id,
       |  least(CAST(floor(CAST(user_id - mnu AS DOUBLE) * 255.0 /
       |    CAST(mxu - mnu AS DOUBLE)) AS BIGINT), 255) AS qu,
       |  least(CAST(floor(CAST(cents - mnc AS DOUBLE) * 255.0 /
       |    CAST(mxc - mnc AS DOUBLE)) AS BIGINT), 255) AS qv
       |  FROM e, b)
       |SELECT event_id, $inter AS zval FROM q""".stripMargin
  }

  /** Zone-map replay: same z-values (shared interleave expression), blocks
    * = zval >> 8, per-block min/max boxes + the conjunctive overlap test.
    */
  private val duckZonemapSql: String = {
    val inter = (0 until 8).flatMap(i => Seq(
      s"(((qu >> $i) & 1) << ${2 * i})",
      s"(((qv >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
       |             min(cents) AS mnc, max(cents) AS mxc FROM e),
       |q AS (SELECT event_id, user_id, cents,
       |  least(CAST(floor(CAST(user_id - mnu AS DOUBLE) * 255.0 /
       |    CAST(mxu - mnu AS DOUBLE)) AS BIGINT), 255) AS qu,
       |  least(CAST(floor(CAST(cents - mnc AS DOUBLE) * 255.0 /
       |    CAST(mxc - mnc AS DOUBLE)) AS BIGINT), 255) AS qv
       |  FROM e, b),
       |z AS (SELECT event_id, user_id, cents, ($inter) >> 8 AS block FROM q),
       |zm AS (SELECT block, count(*) AS n_rows,
       |         min(user_id) AS mn_user_id, max(user_id) AS mx_user_id,
       |         min(cents) AS mn_cents, max(cents) AS mx_cents
       |       FROM z GROUP BY block)
       |SELECT block, n_rows, mn_user_id, mx_user_id, mn_cents, mx_cents,
       |       (mx_user_id >= 100 AND mn_user_id <= 120 AND
       |        mx_cents >= 0 AND mn_cents <= 5000) AS scanned
       |FROM zm""".stripMargin
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sharedSql.map { case (name, sql) =>
      name -> ((s: SparkSession, dir: String) => reg(s, dir).sql(sql))
    } ++ Map[String, (SparkSession, String) => DataFrame](

      // Tumbling event-time window aggregation (W1) on the events stream table.
      "ev_tumbling" -> ((s, dir) => {
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
          // integer-exact aggregation: the 6dp values quantize to exact
          // cents per ROW, the sum is integer, and the mean is emitted as
          // exact half-up MICRO-units by sign-safe floor division
          // (StreamingAgg.avgMicroExpr, = DuckDB `//`) — float sum-order
          // ulps and round-tie semantics (Spark HALF_UP vs C-library
          // paths) can never flip a digit on any engine. (round(avg(),6)
          // had a 1-ulp boundary row at sf0.1; the derived-avg form had
          // exact .5 ties. Integers have neither.)
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("__cents"))
          .select(col("w.start").as("wstart"), col("event_type"), col("n"),
            round(col("__cents") / 100.0, 4).as("sum_v"),
            expr(graft.streaming.StreamingAgg.avgMicroExpr).as("avg_micro"))
      }),

      // Sliding event-time window aggregation (W2): 12 h window every 6 h.
      "ev_sliding" -> ((s, dir) => {
        Tables(s, dir, "events")
          .groupBy(window(col("ts"), "12 hours", "6 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("__cents"))
          .select(col("w.start").as("wstart"), col("event_type"), col("n"),
            expr(graft.streaming.StreamingAgg.avgMicroExpr).as("avg_micro"))
      }),

      // Session windows (30 min inactivity gap) per user — free in Spark,
      // gaps-and-islands in the oracle.
      "ev_session" -> ((s, dir) => {
        Tables(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
          .select(col("user_id"), col("w.start").as("session_start"),
            col("w.end").as("session_end"), col("n"), col("sum_v"))
      }),

      // General point-in-interval join via bucket binning (equi-join +
      // residual, never a nested loop): events range-joined back into
      // their session intervals; counts must equal the session operator's.
      "range_join" -> ((s, dir) => {
        val events = Tables(s, dir, "events")
        val sessions = events
          .groupBy(session_window(col("ts"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("__n"))
          .select(col("user_id"), col("w.start").as("session_start"),
            col("w.end").as("session_end"))
        RangeJoin.pointInInterval(
            events.select(col("user_id"), col("ts")), sessions,
            Seq("user_id"), "ts", "session_start", "session_end")
          .groupBy("user_id", "session_start", "session_end")
          .agg(count(lit(1)).as("n_in"))
      }),

      // Ordered conversion funnel view→click→purchase: stage i counts only
      // at-or-after the user reached stage i−1. One shuffle (see Behavior).
      "ev_funnel" -> ((s, dir) => {
        Behavior.funnel(Tables(s, dir, "events"),
          Seq("view", "click", "purchase"))
      }),

      // Cohort retention: first-active-day cohorts × active-day offsets.
      "ev_retention" -> ((s, dir) => {
        Behavior.retention(Tables(s, dir, "events"))
      }),

      // Streaming retention twin: two-int-per-user keyed state over the
      // time-sliced replay; ascending arrival makes "new distinct day" a
      // single comparison. Same oracle as ev_retention.
      "stream_retention" -> ((s, dir) => {
        graft.streaming.StreamingRetention.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Streaming CDC twin: per-key latest-wins state over the time-sliced
      // replay; max-associativity makes the final view slicing-invariant
      // with NO ordering assumptions. Same oracle as cdc_snapshot.
      "stream_cdc" -> ((s, dir) => {
        graft.streaming.StreamingCdc.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Disorder twin: the scaladoc claims max-associativity needs NO
      // ordering assumption — prove it under genuine disorder (bounded
      // per-(user,event) arrival delay, changes crossing epoch boundaries
      // out of event order, no watermark at all). Same oracle.
      "stream_cdc_late" -> ((s, dir) => {
        graft.streaming.StreamingCdc.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches,
          disorder = "24 hours")
      }),

      // Streaming SCD-2 twin: the open version per key in state; arrivals
      // close-and-open, and max(valid_to) per version folds the emissions
      // into the batch lead() history. Same oracle as cdc_scd2.
      "stream_scd2" -> ((s, dir) => {
        graft.streaming.StreamingScd2.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Cohort anomaly flags: |z| >= 2 vs the (type, hour) window stats —
      // one hash agg + one equi-join back, never a per-type serial window.
      // (The synthetic values are near-uniform — max cohort |z| ~2.4 — so
      // the 3-sigma default would flag nothing at any SF; 2.0 keeps the
      // gate non-vacuous while the operator default stays 3.0.)
      "ev_anomaly" -> ((s, dir) => {
        Behavior.anomalies(Tables(s, dir, "events"), minZ = 2.0)
      }),

      // Hour-of-week seasonality: load z-scored per type against its own
      // 168-slot distribution — the traffic-shape baseline (ev_anomaly
      // z-scores values; this profiles WHEN).
      "ev_seasonality" -> ((s, dir) => {
        Behavior.seasonality(Tables(s, dir, "events"))
          .select(col("event_type"), col("how").cast("long").as("how"),
            col("n"), col("z"))
      }),

      // Telemetry double-fire filter: drop events whose same-(user,type)
      // predecessor is closer than 10 minutes — one lag over a per-key
      // sort, one timestamp of state per key.
      "dedup_window" -> ((s, dir) => {
        Behavior.windowDedup(Tables(s, dir, "events"),
            Seq("user_id", "event_type"), windowSec = 600)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"))
      }),

      // JSON metadata profiling: numeric field `k` inside the opaque
      // `props` column, per event type — codegen'd path extraction, no UDF.
      "ev_props" -> ((s, dir) => {
        Behavior.propsStats(Tables(s, dir, "events"))
      }),

      // Embedding-centroid drift between the two vec_id-parity slices:
      // cosine/L2/max-dim shift of the per-slice centroids — the 2·|dims|-
      // row aggregate that guards an ANN index rebuild.
      "drift_embed" -> ((s, dir) => {
        Profiling.embeddingDrift(Tables(s, dir, "embeddings"),
          pmod(col("vec_id"), lit(2)))
      }),

      // Equi-depth quantile binning (k=10) of the value column — the
      // feature-discretization prep stage: exact interpolated deciles via
      // one percentile aggregate, 1-row edge broadcast, row-local
      // assignment; value-based (engine-stable), never ntile.
      "feature_bins" -> ((s, dir) => {
        Profiling.equiDepthBins(Tables(s, dir, "events"), "event_id",
          "value", k = 10)
      }),

      // Exact binary-classifier AUC (tie-corrected Mann–Whitney): scores
      // collapse to one row per DISTINCT value first, the rank base comes
      // from the two-level distributed prefix sum, the statistic folds in
      // one scalar agg — no single-task sort anywhere. Labels: purchase
      // events against value as the score.
      "ev_auc" -> ((s, dir) => {
        Ranking.binaryAuc(Tables(s, dir, "events"), col("value"),
          col("event_type") === "purchase")
      }),

      // Per-segment AUC: does value separate weekend from weekday traffic,
      // per event type — the sliced-evaluation view. Grouped two-level
      // prefix sum; each segment's serial chain is its partition span.
      "ev_auc_by_type" -> ((s, dir) => {
        Ranking.groupedAuc(
          Tables(s, dir, "events").withColumn("is_weekend",
            dayofweek(col("ts")).isin(1, 7)),
          "event_type", col("value"), col("is_weekend"))
      }),

      // Threshold-sweep confusion matrix (precision/recall at five cuts):
      // one row-local binning pass + one hash agg to |edges|+1 rows; the
      // per-threshold totals are suffix sums over that tiny relation —
      // the fact never re-shuffles per threshold.
      "ev_confusion" -> ((s, dir) => {
        Ranking.confusionSweep(Tables(s, dir, "events"), col("value"),
          col("event_type") === "purchase",
          edges = Seq(10.0, 50.0, 100.0, 250.0, 400.0))
      }),

      // Group-mean null imputation: the synthetic table has no nulls, so
      // the query PUNCHES deterministic holes first (every 7th event_id),
      // then fills them from the per-type mean of the surviving values —
      // DuckDB replays the same hole pattern. One group agg + join back;
      // was_null keeps the missingness signal.
      "feature_impute" -> ((s, dir) => {
        val holed = Tables(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            when(pmod(col("event_id"), lit(7)) =!= 0, col("value"))
              .as("value"))
        Profiling.imputeMean(holed, Seq("event_type"), "value")
          .select(col("event_id"), col("event_type"),
            round(col("value"), 6).as("value"), col("was_null"))
      }),

      // Smoothed target encoding of event_type against value: one hash
      // agg to the |categories| relation + a 1-row global-mean broadcast —
      // the dimension-sized encoder table a 100 TB fact then broadcast-
      // joins for the feature column.
      "feature_target_encode" -> ((s, dir) => {
        Profiling.targetEncode(Tables(s, dir, "events"), "event_type",
          "value", smoothing = 10.0)
      }),

      // Referential-integrity audit across three FK relations (the third
      // dimension is deliberately filtered to negative-free balances so
      // the orphan counter is provably non-vacuous): per relation one
      // broadcast left join folded into a single-row conditional agg.
      "constraints_fk" -> ((s, dir) => {
        Profiling.referentialAudit(Seq(
          ("li_orderkey", Tables(s, dir, "lineitem"), "l_orderkey",
            Tables(s, dir, "orders"), "o_orderkey"),
          ("li_partkey", Tables(s, dir, "lineitem"), "l_partkey",
            Tables(s, dir, "part"), "p_partkey"),
          ("ord_custkey_posbal", Tables(s, dir, "orders"), "o_custkey",
            Tables(s, dir, "customer").filter(col("c_acctbal") >= 0),
            "c_custkey")))
      }),

      // Snapshot DIFF between the day-16 CDC compaction and the final one:
      // full-outer join on the snapshot key emitting ONLY churned keys
      // (added / deleted / changed) — diff output scales with the churn,
      // never the table.
      "cdc_diff" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        def snap(d: DataFrame) =
          Cdc.latestSnapshot(d, Seq("user_id"), col("ts"), col("event_id"),
            col("event_type") === "error",
            Seq("etype" -> col("event_type"),
              "val4" -> round(col("value"), 4)))
        Cdc.snapshotDiff(snap(ev.filter(col("ts") < cut)), snap(ev),
          Seq("user_id"), Seq("etype", "val4"))
      }),

      // Schema-evolution read: two parquet generations (the second grew an
      // event_type column) union under mergeSchema into one scan; rows
      // from the pre-evolution files surface the new column as null. The
      // aggregate proves values AND null-backfill both survive the merge.
      "io_schema_evolution" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
        ev.filter(pmod(col("event_id"), lit(2)) === 0)
          .select("event_id", "user_id", "value")
          .write.mode("overwrite").parquet(tmp + "/gen1")
        ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select("event_id", "user_id", "value", "event_type")
          .write.mode("overwrite").parquet(tmp + "/gen2")
        IO.readParquetMerged(s, Seq(tmp + "/gen1", tmp + "/gen2"))
          .groupBy(coalesce(col("event_type"), lit("__pre_evolution__"))
            .as("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      }),

      // Streaming twin of the versioned table: every micro-batch lands as
      // one atomic manifest commit (exactly-once publication); the final
      // version equals the raw table for any slicing. Prefix-snapshot
      // consistency across epoch counts is spec-pinned.
      "stream_timetravel" -> ((s, dir) => {
        graft.streaming.StreamingVersionedIngest.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Zone-map MAINTENANCE under append: the day-16 commit's delta
      // ledger folds into the standing one (counts add, mins min, maxes
      // max) — merged stats must equal a full-table rebuild exactly.
      "layout_zonemap_merge" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(floor(col("event_id") / 1000).cast("long").as("block"),
            col("ts"), col("user_id"), col("value"))
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        Layout.zoneMapMerge(
          Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
            .map(d => Layout.zoneMap(d, col("block"),
              Seq("user_id", "value"))),
          Seq("user_id", "value"))
      }),

      // Per-block BLOOM INDEX: zonemap's point-lookup companion — k
      // arithmetic hash positions per row, one hash agg to the
      // metadata-sized ledger, then five probe keys broadcast against it.
      // Candidates must cover every true block (no false negatives);
      // the gate emits both counts so the FP margin is visible.
      "layout_bloom" -> ((s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
          .select(floor(col("event_id") / 1000).cast("long").as("block"),
            col("user_id"))
        val ledger = Layout.bloomLedger(ev, col("block"), col("user_id"),
          mBits = 8192)
        val probes = Seq(0L, 7L, 42L, 123L, 999L).toDF("probe_key")
        val cand = Layout.bloomProbe(ledger,
          probes.withColumnRenamed("probe_key", "user_id"), "user_id",
          mBits = 8192)
          .withColumnRenamed("user_id", "probe_key")
        val truth = ev.join(probes, ev("user_id") === probes("probe_key"))
          .groupBy("probe_key")
          .agg(countDistinct(col("block")).as("n_true_blocks"))
        probes.join(cand, Seq("probe_key"), "left")
          .join(truth, Seq("probe_key"), "left")
          .na.fill(0L, Seq("n_candidate_blocks", "n_true_blocks"))
      }),

      // Manifest-based TIME TRAVEL: two append commits (days 1-15, then
      // the rest), then an OPTIMIZE rewrite (v3 = v2 compacted into one
      // sorted file, manifest pointing only at the new file). Reading v1
      // AFTER later versions landed must see exactly the v1 files, and
      // the rewrite must be logically invisible (v3 row == v2 row) — the
      // immutable-manifest properties beneath Delta/Iceberg, here from
      // parquet + a JSON file list. Driver touches only metadata; each
      // scan reads precisely its manifest's files.
      "layout_timetravel" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
        val tmp = java.nio.file.Files.createTempDirectory("graft_tt").toString
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        Layout.commitVersion(ev.filter(col("ts") < cut), tmp, 1)
        Layout.commitVersion(ev.filter(col("ts") >= cut), tmp, 2)
        Layout.commitRewrite(
          Layout.readVersion(s, tmp, 2).sort("event_id").coalesce(1),
          tmp, 3)
        Seq(1, 2, 3).map { v =>
          Layout.readVersion(s, tmp, v).agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("user_id")).as("n_users"),
            round(sum(col("value")), 4).as("sum_v"))
            .select(lit(v).as("version"), col("n_rows"), col("n_users"),
              col("sum_v"))
        }.reduce(_.unionAll(_))
      }),

      // URL-canonicalization dedup — the first dedup key of a web-crawl
      // corpus. The corpus is synthetic (no URL column), so the query
      // derives a deterministic messy URL per doc_id exercising every
      // canonicalization rule (case, www., default port, trailing slash,
      // utm params, param order, fragments); DuckDB replays the same
      // derivation against a regexp-based canonicalizer. Row-local
      // parse_url projection + ONE hash aggregate.
      "dedup_url" -> ((s, dir) => {
        val url = concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://"))
            .otherwise(lit("http://")),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.Example.COM"))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit("example.com"))
            .otherwise(lit("Example.Com")),
          when(pmod(col("doc_id"), lit(5)) === 0, lit(":80"))
            .otherwise(lit("")),
          lit("/docs/"), pmod(col("doc_id"), lit(50)).cast("string"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            lit("/?utm_source=feed&b=2&a=1"))
            .when(pmod(col("doc_id"), lit(4)) === 1, lit("?a=1&b=2"))
            .when(pmod(col("doc_id"), lit(4)) === 2, lit("/"))
            .otherwise(lit("#frag")))
        TextAnalysis.urlDupGroups(
          Tables(s, dir, "documents").select(col("doc_id"))
            .withColumn("url", url), "url")
      }),

      // First-order Markov transitions over per-user event sequences:
      // lead() on one user-shuffle, then the |types|² count matrix with
      // row-normalized probabilities.
      "ev_transitions" -> ((s, dir) => {
        Behavior.transitions(Tables(s, dir, "events"))
      }),

      // Top-20 3-step event paths — sequence mining above the bigram
      // matrix; two leads on one user sort, |types|³-bounded rank relation.
      "ev_paths" -> ((s, dir) => {
        Behavior.topPaths(Tables(s, dir, "events"), k = 20)
      }),

      // Streaming twin: per-user last-event keyed state emits each (from →
      // to) step once, in the epoch its successor arrives; the union of
      // epoch outputs equals batch lead() under any slicing.
      "stream_transitions" -> ((s, dir) => {
        graft.streaming.StreamingTransitions.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Cumulative distinct users by day — first-sight + prefix sum, the
      // scale form of a growing count(distinct): the running total windows
      // over the DAYS relation, never the events.
      "ev_cumulative" -> ((s, dir) => {
        Behavior.cumulativeUsers(Tables(s, dir, "events"))
      }),

      // UNPIVOT/melt: wide numeric attributes into (key, attr, val) long
      // form — the feature-table reshape; `stack` is a row-local generator
      // (zero shuffle), the inverse of q_pivot.
      "q_unpivot" -> ((s, dir) => {
        Tables(s, dir, "part").selectExpr("p_partkey",
          "stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice) AS (attr, val)")
      }),

      // Funnel TIMING: per-user first-occurrence timestamps per stage, then
      // mean time-to-convert across adjacent stages — the latency
      // complement to ev_funnel's conversion counts. One hash agg to a
      // |users|-row relation; the stage deltas are projections over it.
      "ev_funnel_time" -> ((s, dir) => {
        val f = Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "view", col("ts"))).as("t_view"),
            min(when(col("event_type") === "click", col("ts"))).as("t_click"),
            min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        val c1 = col("t_click") >= col("t_view")
        val d1 = unix_micros(col("t_click")) - unix_micros(col("t_view"))
        val c2 = col("t_purchase") >= col("t_click")
        val d2 = unix_micros(col("t_purchase")) - unix_micros(col("t_click"))
        // both legs fold in ONE pass over the per-user firsts (conditional
        // aggregates), then a row-local stack to long form — the user
        // relation is never scanned per leg
        f.agg(
            count(when(c1, lit(1))).as("n1"),
            round(avg(when(c1, d1)) / 1e6, 4).as("a1"),
            count(when(c2, lit(1))).as("n2"),
            round(avg(when(c2, d2)) / 1e6, 4).as("a2"))
          .selectExpr("stack(2, 'view_to_click', n1, a1, " +
            "'click_to_purchase', n2, a2) AS (step, n_users, avg_secs)")
      }),

      // Streaming twin: seasonality-at-ingest — per-epoch (type, slot)
      // counts merge with one sum; profile ≡ batch under any slicing.
      "stream_seasonality" -> ((s, dir) => {
        graft.streaming.StreamingSeasonality.replay(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Rolling 7-day distinct active users next to each day's DAU — the
      // engagement ratio surface; rolling distinct via the contribution
      // explode over the deduplicated (day, user) relation.
      "ev_rolling_active" -> ((s, dir) => {
        Behavior.rollingActive(Tables(s, dir, "events"))
      }),

      // Streaming twin: per-epoch distinct (day, user) pairs union
      // associatively; rolling actives ≡ batch under any slicing.
      "stream_rolling_active" -> ((s, dir) => {
        graft.streaming.StreamingActive.replay(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Streaming twin: first-sight at ingest — the retention tracker's
      // diagonal hits (epochDay == cohortDay) are each user's first-ever
      // appearance, emitted once; day counts + prefix sum as in batch.
      "stream_cumulative" -> ((s, dir) => {
        graft.streaming.StreamingRetention.replayCumulative(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Streaming funnel twin: per-user keyed state over the time-sliced
      // replay; emitted attainments aggregate to the batch shape exactly.
      "stream_funnel" -> ((s, dir) => {
        graft.streaming.StreamingFunnel.replayBatch(Tables(s, dir, "events"),
          Seq("view", "click", "purchase"), batches = streamReplayBatches)
      }),

      // Disorder twin of the ORDER-SENSITIVE funnel: events arrive up to
      // 24 h late under a matching watermark; the buffered processor
      // drains below-watermark prefixes in (ts, stage) order, so the
      // attainment set equals batch under any bounded disorder. Same
      // oracle as ev_funnel/stream_funnel.
      "stream_funnel_late" -> ((s, dir) => {
        graft.streaming.StreamingFunnel.replayBatchLate(
          Tables(s, dir, "events"), Seq("view", "click", "purchase"),
          disorder = "24 hours", batches = streamReplayBatches)
      }),

      // Z-order layout: quantize (user_id, cents) to 8 bits each, interleave
      // into the Morton curve position, range-cluster on it — the
      // multi-dimension prunable-layout story; the oracle reproduces every
      // z-value bit-for-bit.
      "layout_zorder" -> ((s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 100).as("cents"))
        Layout.zOrder(e, Seq("user_id", "cents"), bits = 8)
          .select(col("event_id"), col("zval"))
      }),

      // Zone-map ledger over the z-ordered layout (256-block z-curve
      // segments): per-block min/max boxes + the planner's overlap test
      // for a 2-column range predicate — the rows with scanned=false are
      // the I/O a 100 TB scan skips without opening a file.
      "layout_zonemap" -> ((s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 100).as("cents"))
        val z = Layout.zOrder(e, Seq("user_id", "cents"), bits = 8)
          .withColumn("block", shiftright(col("zval"), 8))
        Layout.pruneFlag(
            Layout.zoneMap(z, col("block"), Seq("user_id", "cents")),
            Seq(("user_id", 100L, 120L), ("cents", 0L, 5000L)))
          .select(col("block"), col("n_rows"),
            col("mn_user_id"), col("mx_user_id"),
            col("mn_cents"), col("mx_cents"), col("scanned"))
      }),

      // Compaction planning over a simulated file inventory (37
      // pseudo-files per source, sized by their docs' total chars):
      // next-fit packing into ~64 KB rewrite groups via a per-partition
      // prefix sum — the metadata-sized lakehouse maintenance pass.
      "layout_compact" -> ((s, dir) => {
        val inv = Tables(s, dir, "documents")
          .groupBy(col("source"), pmod(col("doc_id"), lit(37)).as("file_id"))
          .agg(sum(col("n_chars")).as("size_bytes"))
        Layout.compactionPlan(inv, "source", "file_id", "size_bytes",
            targetBytes = 65536L)
          .select(col("source"), col("file_id"), col("size_bytes"),
            col("grp"))
      }),

      // Hive-style partition pruning: events written ONCE partitioned by
      // day, then a one-week slice aggregated per type. The day filter
      // prunes at planning time — the scan lists only 7 of the 30 day
      // directories (PlanSpec pins PartitionFilters on the relation), the
      // property that turns a 100 TB history scan into a week's files.
      "layout_partition_prune" -> ((s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
        val part = Layout.partitionedPrepare(
          Tables(s, dir, "events").withColumn("day", to_date(col("ts"))),
          tmp, "day")
        part
          .filter(col("day") >= lit("2024-01-08") && col("day") < lit("2024-01-15"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      }),

      // Bucketed co-located join: both sides written bucketBy(o_orderkey)
      // once, then the fact-fact join plans with ZERO exchanges (PlanSpec
      // asserts) — the one-time-layout-vs-every-run-shuffle trade.
      "layout_bucketed" -> ((s, dir) => {
        val orders = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"),
            col("l_extendedprice"))
        Layout.bucketedPrepare(orders, "graft_b_orders", "o_orderkey")
        Layout.bucketedPrepare(li, "graft_b_lineitem", "o_orderkey")
        Layout.bucketedJoin(s, "graft_b_orders", "graft_b_lineitem",
            "o_orderkey")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
      }),

      // CDC latest-wins snapshot: events as a per-user changelog (ts order,
      // event_id tie-break, 'error' = delete marker) compacted to current
      // state — ONE max_by agg with map-side partials, never a window.
      "cdc_snapshot" -> ((s, dir) => {
        Cdc.latestSnapshot(Tables(s, dir, "events"), Seq("user_id"),
          col("ts"), col("event_id"), col("event_type") === "error",
          Seq("last_type" -> col("event_type"),
            "last_value" -> round(col("value"), 4)))
      }),

      // CDC SCD-2 history: every upsert versioned with its validity
      // interval; a delete closes the prior version and emits nothing.
      "cdc_scd2" -> ((s, dir) => {
        Cdc.scd2(Tables(s, dir, "events"), Seq("user_id"),
          col("ts"), col("event_id"), col("event_type") === "error",
          Seq("etype" -> col("event_type"),
            "val" -> round(col("value"), 4)))
      }),

      // Point-in-time enrichment: each purchase joins the SCD-2 profile
      // version valid AT its timestamp; purchases inside a tombstoned
      // interval stay unmatched (the semantics an as-of join can't give).
      "temporal_join" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val dim = Cdc.scd2(
          ev.filter(col("event_type").isin("view", "signup", "error")),
          Seq("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error",
          Seq("etype" -> col("event_type"),
            "val" -> round(col("value"), 4)))
        val facts = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        Cdc.pointInTime(facts, dim, Seq("user_id"), col("ts"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("etype"), col("val"), col("valid_from"))
      }),

      // Incremental CDC merge: snapshot the first half of the changelog,
      // apply the second half as a batch — must equal the one-shot
      // snapshot exactly (tombstones block stale resurrections).
      "cdc_incremental" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val cut = to_timestamp(lit("2024-01-16 00:00:00"))
        val base = Cdc.latestSnapshotVersioned(ev.filter(col("ts") < cut),
          Seq("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error",
          Seq("last_type" -> col("event_type"),
            "last_value" -> round(col("value"), 4)))
        Cdc.currentView(Cdc.applyChanges(base, ev.filter(col("ts") >= cut),
          Seq("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error",
          Seq("last_type" -> col("event_type"),
            "last_value" -> round(col("value"), 4))))
      }),

      // Interval×interval OVERLAP join via the same bucket binning as
      // range_join — concurrent sessions across user pairs; each
      // overlapping pair emitted exactly once (first shared bucket).
      "interval_join" -> ((s, dir) => {
        val sess = Tables(s, dir, "events")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"),
            col("user_id"))
          .agg(count(lit(1)).as("__n"))
          .select(col("user_id"), col("w.start").as("s"), col("w.end").as("e"))
        RangeJoin.intervalOverlap(
            sess.select(col("user_id").as("u1"), col("s").as("s1"),
              col("e").as("e1")),
            sess.select(col("user_id").as("u2"), col("s").as("s2"),
              col("e").as("e2")),
            Seq.empty, "s1", "e1", "s2", "e2", bucket = "1 hour")
          .filter(col("u1") < col("u2"))
          .groupBy("u1", "u2").agg(count(lit(1)).as("n_overlap"))
      }),

      // G1/G2: the synthetic gap ticks themselves.
      "fx_gapfill" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Candles.gapFill(ticks, "1 hour").select(col("key"), col("ts"))
      }),

      // Flagship: full candle pipeline (A1+A2+A3+G1-G3+W1+P1+P2).
      "fx_candles" -> ((s, dir) => fxCandles(s, dir)),

      // P3: log-return projection off the candle pipeline.
      "fx_returns" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
          .filter(col("ret").isNotNull)
          .select(col("key"), col("ts"), round(col("ret"), 9).as("ret"))
      }),

      // Multi-resolution rollup: 6 h candles re-aggregated from the 1 h
      // candles (OHLC-of-OHLC — the resample path that never re-reads ticks).
      "fx_candles_6h" -> ((s, dir) => {
        Candles.rollUp(fxCandles(s, dir), "6 hours")
          .select(col("key"), col("closeTime"), col("openStateTime"),
            col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
            col("minBidPrice"), col("maxBidPrice"), col("isLive"))
      }),

      // Linear-interpolation gap fill — the alternative fill policy to the
      // reference's carry-forward: synthetic closes interpolated between
      // neighboring live closes; trailing gaps carry, leading gaps null.
      "fx_interp" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        // +1e-9 before rounding on BOTH sides: interpolated prices land
        // exactly on .xxxxxx5 halves, where Spark (HALF_UP) and DuckDB
        // (nearbyint, half-to-even) disagree; the nudge moves halves off the
        // boundary identically in both engines.
        Candles.interpolate(candles)
          .select(col("key"), col("closeTime"), col("isLive"),
            round(col("askInterp") + lit(1e-9), 6).as("askInterp"),
            round(col("bidInterp") + lit(1e-9), 6).as("bidInterp"))
      }),

      // Rolling 4-candle stats (moving average / rolling volatility) over
      // the carry-forward close — the indicator layer above the candle
      // pipeline (operators.Rolling).
      "fx_rolling" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.stats(candles, "key", "closeTime", col("close.askPrice"), 4)
          .select(col("key"), col("closeTime"), col("roll_n"),
            round(col("roll_avg"), 6).as("roll_avg"),
            round(col("roll_min"), 6).as("roll_min"),
            round(col("roll_max"), 6).as("roll_max"),
            round(col("roll_std"), 6).as("roll_std"))
      }),

      // Drawdown of the carry-forward close vs its running peak per key.
      "fx_drawdown" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.drawdown(candles, "key", "closeTime", col("close.askPrice"))
          .select(col("key"), col("closeTime"),
            round(col("drawdown"), 6).as("drawdown"))
      }),

      // EWMA smoothing of the carry-forward close: alpha = 0.8 over the
      // trailing 10 candles, finite-history normalization.
      "fx_ewma" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        // pre-filter null closes (leading pre-live candles): Spark's
        // collect_list skips nulls but DuckDB's list() keeps them — filter
        // BEFORE windowing so both engines see identical frames
        Rolling.ewma(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime", col("close.askPrice"), n = 10, alpha = 0.8)
          .select(col("key"), col("closeTime"),
            round(col("ewma"), 6).as("ewma"))
      }),

      // RSI (Wilder, period 14) over the carry-forward close: delta split →
      // Wilder-smoothed gains/losses → 100 − 100/(1+RS); bounded history.
      "fx_rsi" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.rsi(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime", col("close.askPrice"))
          .select(col("key"), col("closeTime"), round(col("rsi"), 6).as("rsi"))
      }),

      // Stochastic oscillator (14/3) over the OHLC candles: close position
      // inside the trailing high–low band + SMA smoothing; degenerate
      // carry-forward bands emit null.
      "fx_stochastic" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.stochastic(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime",
            col("maxAsk.askPrice"), col("minAsk.askPrice"),
            col("close.askPrice"))
          .select(col("key"), col("closeTime"),
            round(col("pct_k"), 6).as("pct_k"),
            round(col("pct_d"), 6).as("pct_d"))
      }),

      // ATR (Wilder, SMA-14) over the OHLC candles — the volatility
      // indicator that needs high/low/prev-close, not just the close line.
      "fx_atr" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.atr(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime",
            col("maxAsk.askPrice"), col("minAsk.askPrice"),
            col("close.askPrice"))
          .select(col("key"), col("closeTime"),
            round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr"))
      }),

      // Bollinger bands (20, 2σ) over the carry-forward close, with %B.
      "fx_bollinger" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.bollinger(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime", col("close.askPrice"))
          .select(col("key"), col("closeTime"),
            round(col("bb_mid"), 6).as("bb_mid"),
            round(col("bb_lower"), 6).as("bb_lower"),
            round(col("bb_upper"), 6).as("bb_upper"),
            round(col("bb_pctb"), 6).as("bb_pctb"))
      }),

      // TWAP per (user, 6 h window): holding-time-weighted price vs the
      // naive tick average. Duplicate (key, ts) ticks pre-aggregated (max)
      // so holding spans are deterministic.
      "fx_twap" -> ((s, dir) => {
        val ticks = Tables(s, dir, "events")
          .groupBy(concat(lit("U"), col("user_id")).as("key"), col("ts"))
          .agg(max(col("value")).as("p"))
        Rolling.twap(ticks, "key", "ts", col("p"), "6 hours")
      }),

      // MACD (12/26/9) over the carry-forward close — the EWMA-composition
      // indicator family: fast/slow difference + signal line + histogram,
      // two window passes over one key partitioning. Bounded 30-candle
      // history so the indicator is engine-reproducible (infinite-history
      // MACD depends on stream start).
      "fx_macd" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.macd(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime", col("close.askPrice"))
          .select(col("key"), col("closeTime"),
            round(col("macd"), 6).as("macd"),
            round(col("signal"), 6).as("signal"),
            round(col("hist"), 6).as("hist"))
      }),

      // Lead–lag cross-correlation: corr(A's return at t, B's at t+1h) per
      // ORDERED pair over the whole series — the directional complement of
      // fx_corr; alignment is one ts-shifted equi-join, pairs exist only
      // inside the join's codegen stage.
      "fx_corr_lagged" -> ((s, dir) => {
        val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        Correlations.laggedCorrelate(rets, lag = "1 hour", minPoints = 8)
      }),

      // Historical VaR(5%) + expected shortfall per key over the
      // log-returns — exact interpolated quantile, tail membership against
      // the 6dp-rounded cut so ES is engine-exact.
      "fx_var" -> ((s, dir) => {
        val rets = Correlations.logReturns(
            Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
          .filter(col("ret").isNotNull)
        Rolling.varES(rets, "key", col("ret"), q = 0.05, minPoints = 20)
      }),

      // Lag-1h autocorrelation per key — the mean-reversion/momentum
      // diagnostic; the diagonal of the lead–lag join, keyed on (key, ts).
      "fx_autocorr" -> ((s, dir) => {
        val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        Correlations.autoCorrelate(rets, lag = "1 hour", minPoints = 8)
      }),

      // Per-key beta/alpha/r² against the lexicographically-first key's
      // series — OLS via cov/var on one broadcast ts-join.
      "fx_beta" -> ((s, dir) => {
        val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        Correlations.betaToReference(rets, minPoints = 8)
      }),

      // Pairs-trading spread z-score vs the reference series: cumulative
      // aligned return difference (= log price ratio), z-scored per key —
      // mean-reversion signal. Broadcast reference + per-key prefix-sum
      // window; zero-variance spreads filtered, never divided by.
      "fx_spread" -> ((s, dir) => {
        val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        Correlations.spreadZScore(rets, minPoints = 8)
      }),

      // CUSUM changepoint statistics over the LOG-RETURNS (drift-in-mean
      // detection, the standard formulation): the sequential recurrence
      // rewritten as prefix-sum minus running extremum — three shared-sort
      // windows, no per-key scan. Returns (≈1e-4) rather than price levels
      // (≈1e3) keep the cross-engine prefix-sum FP noise orders below the
      // 6-dp rounding boundary.
      "fx_cusum" -> ((s, dir) => {
        val rets = Correlations.logReturns(
            Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
          .filter(col("ret").isNotNull)
        Rolling.cusum(rets, "key", "ts", col("ret"), h = 3.0)
          .select(col("key"), col("ts"), col("cusum_up"),
            col("cusum_dn"), col("changed"))
      }),

      // The SHARED indicator pipeline: candles derived once, the whole
      // family (rolling stats / EWMA / MACD+signal+hist / RSI / Bollinger)
      // fanned out over one key partitioning — one exchange, one sort,
      // chained window operators. The per-indicator gates each pay the
      // candle re-derivation (~7 s at sf0.1) by gate-independence; this is
      // the plan a real user runs and its cost shows the honest ~1-2 s
      // marginal price per indicator.
      "fx_indicators" -> ((s, dir) => {
        val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
        Rolling.indicators(candles.filter(col("close.askPrice").isNotNull),
            "key", "closeTime", col("close.askPrice"))
          .select(col("key"), col("closeTime"), col("roll_n"),
            round(col("roll_avg"), 6).as("roll_avg"),
            round(col("roll_min"), 6).as("roll_min"),
            round(col("roll_max"), 6).as("roll_max"),
            round(col("roll_std"), 6).as("roll_std"),
            round(col("ewma"), 6).as("ewma"),
            round(col("macd"), 6).as("macd"),
            round(col("signal"), 6).as("signal"),
            round(col("hist"), 6).as("hist"),
            round(col("rsi"), 6).as("rsi"),
            round(col("bb_mid"), 6).as("bb_mid"),
            round(col("bb_lower"), 6).as("bb_lower"),
            round(col("bb_upper"), 6).as("bb_upper"),
            round(col("bb_pctb"), 6).as("bb_pctb"))
      }),

      // C1+P5+J5+W2: sliding-window all-pairs Pearson, θ = 0.5, NaN dropped.
      // The gate thresholds on the ROUNDED value so exact-0.5 correlations
      // (common at small n) can't flip inclusion on cross-engine FP noise.
      // minCorr = 0.4999 is a RAW prefilter strictly below the 0.4999995
      // round-to-6 cutoff, run inside the pair join's codegen stage so the
      // BigDecimal-backed round() sees candidates only (JFR r15: rounding
      // every raw pair was ~15% of the gate CPU as jdk dtoa/BigDecimal) —
      // the exact rounded-0.5 threshold below is unchanged, and the
      // streaming twins have always run this same prefilter against the
      // SAME oracle (stream_corr, SparkEntry replayBatch call).
      "fx_corr" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
            "6 hours", "3 hours", minCorr = 0.4999)
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
          .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
            col("pair"), col("r"), col("n"),
            col("xCount").cast("long").as("xCount"),
            col("yCount").cast("long").as("yCount"))
      }),

      // J1 side output: per-(window, key) distributed point counts
      // (`DistributeWorkDataDoFn.java:76-78`).
      "fx_point_counts" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
        Correlations.pointCounts(returns, "6 hours", "3 hours")
          .select(col("windowStart").as("wstart"), col("key"), col("n_points"))
      }),

      // P5 includeUnderlying: the reference's opt-in Correlation payload of
      // both aligned input series (`TimeSeriesProtos.proto:94-104`,
      // `ComputeCorrelationsDoFn.java:197-200`). The carried per-side
      // series arrays are exploded to one scalar row per point so the
      // oracle compares every array element (ts + return) without
      // array-typed columns in the dump. Since r16 the pair relation
      // carries the series as the parallel tss/rets arrays the Pearson
      // kernel already shuffles (guide §2.3 — no struct-array third copy
      // through the pin and the pair-join exchanges); tss elements ARE
      // unix_micros(ts) and rets elements ARE ret, so the per-point output
      // is value-identical (same oracle).
      "fx_corr_underlying" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
            "6 hours", "3 hours", minCorr = 0.4999, includeUnderlying = true)
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
        // both sides unfold from ONE pass over the pair relation (a
        // 2-element side array exploded, then the points) — a per-side
        // union would execute the Pearson kernel once per branch
        corr.select(col("windowStart").as("wstart"), col("key1"),
            col("key2"), col("r"),
            explode(array(
              struct(lit("x").as("side"), col("xTss").as("__tss"),
                col("xRets").as("__rets")),
              struct(lit("y").as("side"), col("yTss").as("__tss"),
                col("yRets").as("__rets")))).as("sv"))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("sv.side").as("side"), col("sv.__tss").as("__tss"),
            col("sv.__rets").as("__rets"))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("side"),
            posexplode(arrays_zip(col("__tss"), col("__rets")))
              .as(Seq("idx", "p")))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("side"), col("idx").cast("long").as("idx"),
            col("p.__tss").as("pts"),
            round(col("p.__rets"), 6).as("pret"))
      }),

      // P5 normalized variant: the fact/dimension split — slim pair rows +
      // the packet relation emitted once per (window, key). The gate joins
      // the dimension back onto each pair side and must reproduce the
      // denormalized payload EXACTLY (same oracle as fx_corr_underlying),
      // proving the split loses nothing while array bytes stay linear in
      // |packets| instead of quadratic in pairs.
      "fx_corr_underlying_norm" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val (pairs0, dim) = Correlations.correlateNormalized(
          Correlations.logReturns(Candles.aggregate(ticks, "1 hour")),
          "6 hours", "3 hours", minCorr = 0.4999)
        val pairs = pairs0.withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
        val d = dim.select(col("windowStart").as("__ws"),
          col("key").as("__k"), col("tss").as("__tss"),
          col("rets").as("__rets"))
        // both probe sides unfold from ONE pass over the pair relation (a
        // 2-element side array exploded — a per-side union would run the
        // Pearson kernel once per branch), then reconstruct through ONE
        // dimension join: the packet-array relation is shuffled once, and
        // since r16 as the parallel primitive tss/rets arrays instead of
        // the struct-array pts copy (guide §2.3; tss IS unix_micros(ts),
        // rets IS ret — value-identical output, same oracle)
        pairs
          .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
            col("r"),
            explode(array(
              struct(lit("x").as("side"), col("key1").as("probe")),
              struct(lit("y").as("side"), col("key2").as("probe")))).as("sp"))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("sp.side").as("side"), col("sp.probe").as("__probe"))
          .join(d, col("__ws") === col("wstart") && col("__k") === col("__probe"))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("side"),
            posexplode(arrays_zip(col("__tss"), col("__rets")))
              .as(Seq("idx", "p")))
          .select(col("wstart"), col("key1"), col("key2"), col("r"),
            col("side"), col("idx").cast("long").as("idx"),
            col("p.__tss").as("pts"),
            round(col("p.__rets"), 6).as("pret"))
      }),

      // P5 NaN policy: propagateNaN ⇒ value := 1.0, isNaN = true
      // (`ComputeCorrelationsDoFn.java:188-193`).
      "fx_corr_nan" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
            "6 hours", "3 hours", minCorr = 0.4999, propagateNaN = true)
          // NaN-propagated pairs carry the policy's literal 1.0, which
          // rounds to itself — the isNaN branch skips the BigDecimal-backed
          // round() for the quadratic constant-pair bulk (the gate's output
          // IS that bulk: 2.26M of 2.27M rows at sf0.01), identical values
          .withColumn("r",
            when(col("isNaN"), col("corr")).otherwise(round(col("corr"), 6)))
          .filter(abs(col("r")) >= 0.5)
          .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
            col("r"), col("n"), col("isNaN"))
      }),

      // Bounded-output correlation: the reference's reporting threshold
      // (minCorrValue, FXTimeSeriesPipelineOptions.java:45-52) composed
      // with a per-key cap — each key's top-3 surviving partners per
      // window, emission ≤ windows×keys×3 at any correlation density.
      // Defined on the PRUNED path (propagateNaN=false): constant-series
      // NaN pairs are the quadratic bulk (2.3M of the nan gate's rows at
      // sf0.01 vs ~9k live ones), carry zero ranking information (all
      // r=1.0), and capping them post-hoc still sorts the full pair space
      // — measured 45-54 s vs 12 s at sf0.1. Bounding starts with not
      // enumerating what you won't report: the θ filter runs INSIDE
      // whole-stage codegen right after the Pearson fold, so only
      // reportable pairs ever reach the rank, whose k-row heap stays
      // map-side (WindowGroupLimit, PlanSpec-pinned).
      "fx_corr_topk" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
            "6 hours", "3 hours", minCorr = 0.4999)
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
        Correlations.topPartnersPacked(corr, k = 3,
          expr("cast(substring(key1, 2) as bigint)"),
          expr("cast(substring(key2, 2) as bigint)"),
          id => concat(lit("U"), id.cast("string")))
      }),

      // STRING-keyed packed top-k: the fx_corr_topk pipeline with partner
      // ranking through a REAL dictionary (Ranking.dictionaryIds over the
      // tick universe) instead of the keys' numeric suffix — the id
      // contract the packed aggregate documents ("at scale a dictionary
      // id"), exercised end to end: encode joins, packed rank (ties now
      // partner-string ascending), decode joins, 2^40 guard composed with
      // dictionary output.
      "fx_corr_topk_dict" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
            "6 hours", "3 hours", minCorr = 0.4999)
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
        Correlations.topPartnersPackedDict(corr, k = 3,
          Ranking.dictionaryIds(ticks, "key"))
      }),

      // Bounded underlying payload: the production form of the reference's
      // includeUnderlying (ComputeCorrelationsDoFn.java:197-200) — the full
      // emission attaches both series to EVERY pair clearing θ (array bytes
      // quadratic in live keys, the measured g-exp 1.47 of the
      // fx_corr_underlying gates); here arrays attach only to each key's
      // top-3 partner edges, so payload volume is O(windows·keys·k·series)
      // at any correlation density. Slim pairs + packed top-k + ONE
      // dimension join; exploded to scalar rows for the oracle like the
      // unbounded gates.
      "fx_corr_underlying_topk" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val (pairs0, dim) = Correlations.correlateNormalized(
          Correlations.logReturns(Candles.aggregate(ticks, "1 hour")),
          "6 hours", "3 hours", minCorr = 0.4999)
        val pairs = pairs0.withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
        val topk = Correlations.topPartnersPacked(pairs, k = 3,
          expr("cast(substring(key1, 2) as bigint)"),
          expr("cast(substring(key2, 2) as bigint)"),
          id => concat(lit("U"), id.cast("string")))
        Correlations.topPartnersUnderlying(topk, dim)
          .select(col("wstart"), col("key"), col("partner"), col("r"),
            col("n"), col("rnk"), col("side"),
            posexplode(arrays_zip(col("tss"), col("rets")))
              .as(Seq("idx", "p")))
          .select(col("wstart"), col("key"), col("partner"), col("r"),
            col("n"), col("rnk"), col("side"),
            col("idx").cast("long").as("idx"),
            col("p.tss").as("pts"),
            round(col("p.rets"), 6).as("pret"))
      }),

      // Structured-Streaming candle pipeline (flatMapGroupsWithState:
      // windowing + OHLC + gap-fill + carry-forward in one stateful op)
      // replayed over the events table via MemoryStream. Same oracle as
      // fx_candles — streaming output is bit-identical to batch by design.
      "stream_candles" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Candles.flatten(StreamingCandles.replayBatch(ticks, "1 hour",
            batches = streamReplayBatches))
          .select(col("key"), col("closeTime"), col("openStateTime"),
            col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
            col("minBidPrice"), col("maxBidPrice"), col("isLive"))
      }),

      // Out-of-order-arrival twin of stream_candles: every tick arrives up
      // to 24 h LATE (deterministic per-(key, ts) delay, so ~disorder/span
      // of the feed crosses micro-batch boundaries out of event order)
      // under a matching watermark delay. The slicing twins prove
      // slicing-invariance; this proves disorder-invariance WITHIN the
      // watermark — the shape a real feed actually has. Same oracle as
      // fx_candles: the late replay must still equal batch row-for-row.
      "stream_candles_late" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        Candles.flatten(StreamingCandles.replayBatch(ticks, "1 hour",
            batches = streamReplayBatches, disorder = "24 hours"))
          .select(col("key"), col("closeTime"), col("openStateTime"),
            col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
            col("minBidPrice"), col("maxBidPrice"), col("isLive"))
      }),

      // Streaming sliding-window correlations (watermarked packet agg in
      // append mode + per-micro-batch pair join). Same oracle as fx_corr.
      "stream_corr" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
        // return-point time bounds derived ARITHMETICALLY from the raw tick
        // bounds via the shared Candles.closeTimeMicros stamping helper, so
        // the replay never runs the candle pipeline just to find its bounds
        // — one cheap events scan instead
        val b = Tables(s, dir, "events")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .head()
        val win = StreamingCandles.durationMicros("1 hour")
        def closeT(t: Long) = Candles.closeTimeMicros(t, win)
        // prefilter at 0.4999 (< the 0.4999995 round-to-6 cutoff) so the
        // sink writes only candidate pairs; exact threshold applied below
        StreamingCorrelations.replayBatch(returns, "6 hours", "3 hours",
            minCorr = 0.4999, batches = streamReplayBatches,
            boundsMicros = Some((closeT(b.getLong(0)), closeT(b.getLong(1)))))
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
          .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
            col("r"), col("n"))
      }),

      // Out-of-order-arrival twin of stream_corr (the same 24 h bounded
      // disorder as stream_candles_late, over the return-point replay into
      // the watermarked sliding packet agg): late points must land in
      // their open windows, and every emitted window's pair set must equal
      // the in-order replay's. Same oracle as fx_corr.
      "stream_corr_late" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
        val b = Tables(s, dir, "events")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .head()
        val win = StreamingCandles.durationMicros("1 hour")
        def closeT(t: Long) = Candles.closeTimeMicros(t, win)
        StreamingCorrelations.replayBatch(returns, "6 hours", "3 hours",
            minCorr = 0.4999, batches = streamReplayBatches,
            boundsMicros = Some((closeT(b.getLong(0)), closeT(b.getLong(1)))),
            disorder = "24 hours")
          .withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5)
          .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
            col("r"), col("n"))
      }),

      // Streaming twin of fx_corr_topk — the BOUNDED dashboard shape of the
      // reference's correlation sink (Demo:313-348, per-timeslice
      // reporting): each closed window's top-3 partners per key, reduced
      // INSIDE the epoch that closed the window (append mode emits a
      // window's complete pair set in one micro-batch, so the per-window
      // top-k equals batch), sink volume bounded at windows×keys×k. The
      // exact round-to-6dp threshold runs in the same per-epoch transform,
      // before packing, so ranks are computed on exactly the reported pair
      // set. Same oracle as fx_corr_topk.
      "stream_corr_topk" -> ((s, dir) => {
        val ticks = Tables.eventsAsTicks(s, dir)
        val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
        val b = Tables(s, dir, "events")
          .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .head()
        val win = StreamingCandles.durationMicros("1 hour")
        def closeT(t: Long) = Candles.closeTimeMicros(t, win)
        StreamingCorrelations.replayBatch(returns, "6 hours", "3 hours",
            minCorr = 0.4999, batches = streamReplayBatches,
            boundsMicros = Some((closeT(b.getLong(0)), closeT(b.getLong(1)))),
            post = epoch => Correlations.topPartnersPacked(
              epoch.withColumn("r", round(col("corr"), 6))
                .filter(abs(col("r")) >= 0.5),
              k = 3,
              expr("cast(substring(key1, 2) as bigint)"),
              expr("cast(substring(key2, 2) as bigint)"),
              id => concat(lit("U"), id.cast("string"))))
      }),

      // Plain watermarked sliding-window aggregation in append mode over
      // the events replay — the canonical Structured Streaming building
      // block, bit-identical to the batch ev_sliding by construction.
      "stream_sliding" -> ((s, dir) => {
        graft.streaming.StreamingAgg.slidingReplayBatch(
          Tables(s, dir, "events"), "12 hours", "6 hours",
          batches = streamReplayBatches)
      }),

      // Streaming session windows: the merging-window family (a session's
      // extent is data-dependent, so the state store merges windows as
      // events arrive) replayed with an advancing watermark; append mode
      // emits each session exactly once when the watermark passes its
      // close. Same oracle as batch ev_session.
      "stream_session" -> ((s, dir) => {
        graft.streaming.StreamingAgg.sessionReplayBatch(
          Tables(s, dir, "events"), "30 minutes",
          batches = streamReplayBatches)
      }),

      // Streaming exact dedup: first-seen-key emission over the events
      // replay (dropDuplicates keyed state; the online form of dedup_exact).
      // Global state ⇒ result equals batch DISTINCT on the dedup key.
      "stream_dedup" -> ((s, dir) => {
        StreamingDedup.replayBatch(Tables(s, dir, "events"),
            Seq("user_id", "event_type", "props"),
            batches = streamReplayBatches)
          .select(col("user_id"), col("event_type"), col("props"))
      }),

      // Click→purchase attribution pairs: all same-user pairs with the
      // purchase inside a 60-minute horizon — one equi-join shuffle on the
      // user key, range predicate post-join.
      "ev_attribution" -> ((s, dir) => {
        Behavior.attribution(Tables(s, dir, "events"), horizonMin = 60)
      }),

      // Linear multi-touch attribution: each conversion's credit splits
      // 1/k over the clicks in its horizon; per-click rollup. Same
      // interval join as ev_attribution + two hash aggs — never a
      // per-conversion sort.
      "ev_attribution_multi" -> ((s, dir) => {
        Behavior.multiTouchAttribution(Tables(s, dir, "events"),
          horizonMin = 60)
      }),

      // Market-basket co-occurrence with lift over per-user type sets:
      // distinct-(user,item) pre-collapse, per-user a<b self-join (output
      // bounded by items-per-user², never catalog²), broadcast margins.
      "ev_cooccurrence" -> ((s, dir) => {
        Behavior.cooccurrence(Tables(s, dir, "events"))
      }),

      // Streaming co-occurrence twin: per-user item-SET state emits each
      // first sight and each unordered pair exactly once (set semantics —
      // arrival-order- and slicing-invariant); emissions fold to the
      // batch matrix. Same oracle as ev_cooccurrence.
      "stream_cooccurrence" -> ((s, dir) => {
        graft.streaming.StreamingCooccurrence.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // Streaming trending twin: incremental windowed counts (append mode,
      // one emission per closed window) + a final rank over the
      // dimension-sized emission. Same oracle as ev_trending.
      "stream_trending" -> ((s, dir) => {
        graft.streaming.StreamingAgg.trendingReplayBatch(
          Tables(s, dir, "events"), "6 hours", topK = 3,
          batches = streamReplayBatches)
      }),

      // Trending: top-3 event types per 6 h tumbling window — the rank
      // runs over the |windows|×|types| aggregate, never the events.
      "ev_trending" -> ((s, dir) => {
        val counts = Tables(s, dir, "events")
          .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("w")).orderBy(col("n").desc, col("event_type"))
        counts.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("w.start").as("wstart"), col("event_type"),
            col("n"), col("rnk").cast("long").as("rnk"))
      }),

      // The same relation computed by a genuine stream-stream inner join
      // with watermark-derived state eviction (the one join shape that
      // needs streaming machinery: both sides grow without bound). Replay
      // union equals the batch join — same oracle.
      "stream_join" -> ((s, dir) => {
        graft.streaming.StreamingJoin.replayBatch(Tables(s, dir, "events"),
          horizonMin = 60, batches = streamReplayBatches)
      }),

      // Left-outer attribution: unconverted clicks kept with null purchase
      // columns — the abandoned-intent relation.
      "ev_attribution_outer" -> ((s, dir) => {
        Behavior.attribution(Tables(s, dir, "events"), horizonMin = 60,
          joinType = "left_outer")
      }),

      // Outer stream-stream join: the null-extended row for an unconverted
      // click emits exactly when the watermark proves no purchase can
      // still match (state eviction IS the emission trigger) — sentinel
      // tails flush the final horizon.
      "stream_join_outer" -> ((s, dir) => {
        graft.streaming.StreamingJoin.replayBatch(Tables(s, dir, "events"),
          horizonMin = 60, batches = streamReplayBatches,
          joinType = "left_outer")
      }),

      // Online MinHash near-dup: documents replayed as an arriving stream,
      // each batch banded and joined against the append-only band index of
      // everything seen before — a pair emits exactly once, when its later
      // member arrives, so the result equals batch dedup_minhash (same
      // oracle) regardless of slicing. The ingest-pipeline dedup shape.
      "stream_minhash" -> ((s, dir) => {
        graft.streaming.StreamingNearDup.replayBatch(
          Tables(s, dir, "documents"), minJaccard = 0.5,
          batches = streamReplayBatches)
      }),

      // Online exact-substring excision: each arriving doc cleaned against
      // the corpus seen so far via the append-only gram-key index; each doc
      // emits once, in its arrival epoch. Ascending-id replay ⇒ union of
      // epochs equals batch dedup_excise (same oracle).
      "stream_excise" -> ((s, dir) => {
        graft.streaming.StreamingSpanDedup.replayBatch(
          Tables(s, dir, "documents"), batches = streamReplayBatches)
      }),

      // As-of (backward) join: each purchase event matched to the user's
      // latest view event at-or-before it. A missing Spark operator composed
      // from one window sort — no pair materialization (operators.AsOfJoin).
      "asof_join" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("key"), col("ts"), col("value"))
        AsOfJoin.backward(purchases, views, rightPrefix = "view_")
          .select(col("event_id"), col("key").as("user_id"), col("ts"),
            col("value"), col("view_ts"), col("view_value"))
      }),

      // Forward as-of join: each purchase matched to the user's EARLIEST
      // view at-or-after it (same single-exchange window-carry as backward,
      // scanned from the future).
      "asof_forward" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("key"), col("ts"), col("value"))
        AsOfJoin.forward(purchases, views, rightPrefix = "view_")
          .select(col("event_id"), col("key").as("user_id"), col("ts"),
            col("value"), col("view_ts"), col("view_value"))
      }),

      // Bounded-staleness as-of join: same backward pick, but matches older
      // than 2 hours are nulled — the tolerance knob every as-of consumer
      // needs (a quote from last week shouldn't price today's trade).
      "asof_tolerance" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("key"), col("ts"), col("value"))
        AsOfJoin.backward(purchases, views, rightPrefix = "view_",
            tolerance = Some("2 hours"))
          .select(col("event_id"), col("key").as("user_id"), col("ts"),
            col("value"), col("view_ts"), col("view_value"))
      }),

      // Nearest as-of join: the closer of the backward and forward matches
      // (backward wins exact ties) — both carries run over ONE exchange.
      "asof_nearest" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("key"), col("ts"), col("value"))
        AsOfJoin.nearest(purchases, views, rightPrefix = "view_")
          .select(col("event_id"), col("key").as("user_id"), col("ts"),
            col("value"), col("view_ts"), col("view_value"))
      }),

      // Pivot (long → wide reshaping): per-user average value by event
      // type. Explicit pivot values keep it to one pass (no distinct-scan
      // planning pre-pass); the oracle is conditional aggregation.
      "q_pivot" -> ((s, dir) => {
        Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(round(avg(col("value")), 6))
      }),

      // Deterministic Bernoulli sample (10%): membership decided by the row
      // id's md5 — a pure zero-shuffle filter, reproducible on any engine,
      // any partitioning (Spark's own sample() is neither).
      "sample_bernoulli" -> ((s, dir) => {
        Sampling.bernoulli(Tables(s, dir, "events"), col("event_id"), 0.1)
          .select(col("event_id"), col("ts"), col("event_type"))
      }),

      // Deterministic stratified sample: 5 smallest-hash events per type —
      // the balanced-subset / cluster-then-sample curation step.
      "sample_stratified" -> ((s, dir) => {
        Sampling.stratified(Tables(s, dir, "events"), Seq("event_type"),
            col("event_id"), k = 5)
          .select(col("event_type"), col("event_id"))
      }),

      // Temperature-scaled mixture sampling (alpha = 0.7): per-source
      // accept rates ∝ n_s^alpha / n_s quantized to per-million md5
      // thresholds — the multilingual rebalancing trick as one filter-scan.
      "sample_temperature" -> ((s, dir) => {
        Sampling.temperatureSample(Tables(s, dir, "documents"), "source",
          col("doc_id"), alpha = 0.7, target = 200L)
      }),

      // Weighted sample without replacement (Efraimidis–Spirakis A-Res):
      // 100 docs with P(pick) ∝ n_chars, score −ln(md5-u)/w, selection by
      // TakeOrdered — deterministic where Spark's sampleBy is not.
      "sample_weighted" -> ((s, dir) => {
        Sampling.weightedTopK(Tables(s, dir, "documents"), col("doc_id"),
            col("n_chars"), k = 100)
          .select(col("doc_id"), col("n_chars"),
            round(col("es_score") * lit(1000.0), 9).as("es_mscore"))
      }),

      // Deterministic train/val/test split (90/5/5): md5-bucket assignment,
      // row-local and growth-stable — a doc's split never changes as the
      // corpus grows, so the held-out set stays held out across re-runs.
      "sample_split" -> ((s, dir) => {
        Sampling.split(Tables(s, dir, "documents"), col("doc_id"),
            Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L))
          .select(col("doc_id"), col("split"))
      }),

      // Exact-size uniform sample: the 100 globally smallest md5(salt:id)
      // docs — fixed-size eval subset; plans as TakeOrderedAndProject
      // (per-partition local top-k, no global sort).
      "sample_topk" -> ((s, dir) => {
        Sampling.topKByHash(Tables(s, dir, "documents"), col("doc_id"), 100)
          .select(col("doc_id"))
      }),

      // Leakage-safe split: the md5 bucket keys on the near-dup CLUSTER
      // representative (minhash pairs → components), so duplicate clusters
      // never straddle train/test — per-doc assignment otherwise leaks the
      // held-out set through near-copies. Unpaired docs key on their own id.
      "sample_split_leakfree" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
        Sampling.splitLeakFree(docs, pairs,
            Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L))
          .select(col("doc_id"), col("split_key"), col("split"))
      }),

      // Per-source quality quota: the top-25 docs per source by
      // (quality desc, id) — the over-represented-domain cap, run as the
      // salted two-stage tournament so no task sorts a whole hot source.
      "quota_per_source" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val scored = TextAnalysis.quality(docs)
          .select(col("doc_id"), col("quality_score"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        Sampling.quotaPerGroup(scored, Seq("source"), col("quality_score"),
            col("doc_id"), k = 25, cells = 8)
          .select(col("doc_id"), col("source"), col("quality_score"),
            col("rank").cast("long").as("rank"))
      }),

      // Token-budget trim: the best ~10k-token sub-corpus by quality —
      // distributed global rank + two-level prefix sum, boundary doc
      // included (budget is a target, overflow ≤ 1 doc).
      "sample_budget_trim" -> ((s, dir) => {
        val scored = TextAnalysis.quality(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("quality_score"))
        Sampling.trimToTokenBudget(scored, budget = 10000L)
      }),

      // Deterministic weighted corpus mixture: three doc_id%3 slices mixed
      // to 60/30/10 per-mille targets by hash acceptance — all-integer
      // thresholds (engine-exact), zero shuffle, streaming-safe.
      "sample_mixture" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
        Sampling.mixture(
          Seq("c0" -> slice(0), "c1" -> slice(1), "c2" -> slice(2)),
          Seq(600L, 300L, 100L))
      }),

      // Sequence packing: documents concatenated in doc_id order and
      // chopped into 2048-token training sequences via the two-level
      // distributed prefix sum (no single-partition window) — per-doc
      // seq/offset/span assignment, all integer arithmetic.
      "pack_sequences" -> ((s, dir) => {
        Packing.packSequences(
          TextAnalysis.tokenStats(Tables(s, dir, "documents")), budget = 2048L)
      }),

      // Curriculum packing: rank docs by (quality desc, id) via the
      // distributed global rank (range sort + per-partition offsets — no
      // single-partition row_number), then pack in rank order. The dense
      // rank is exactly the id shape packSequences wants.
      "pack_curriculum" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val ranked = Ranking.withGlobalRank(
          TextAnalysis.quality(docs)
            .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
              col("quality_score")),
          Seq(col("quality_score").desc, col("doc_id")))
        val packed = Packing.packSequences(
          ranked.select(col("rank"), col("n_tokens")),
          budget = 2048L, idCol = "rank")
        packed.withColumnRenamed("doc_id", "rank")
          .join(ranked.select(col("doc_id"), col("rank")), "rank")
          .select(col("doc_id"), col("rank"), col("n_tokens"),
            col("tok_start"), col("seq_id"), col("seq_offset"), col("spans"))
      }),

      // Streaming weighted mixture: thresholds are scalars from table
      // stats (the production re-balance policy); membership is then a
      // stateless row-local test, so the documents replayed as an arriving
      // stream accept EXACTLY the batch row set — one streaming query over
      // the union, each row tested against its own source's threshold.
      // Same oracle as sample_mixture by construction.
      "stream_mixture" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
        val names = Seq("c0", "c1", "c2")
        val th = Sampling.mixtureThresholds(
          names.zipWithIndex.map { case (n, r) => n -> slice(r) },
          Seq(600L, 300L, 100L)).toMap
        val staged = docs.select(col("doc_id"))
          .withColumn("__ts", timestamp_micros(col("doc_id")))
        val (chunk, _, _) =
          FileReplay.timeChunks(staged, "__ts", streamReplayBatches)
        val root = FileReplay.stage(staged, chunk, Seq.empty)
        FileReplay.run(s, root, staged.schema) { src =>
          val id = col("doc_id").cast("long")
          val r = col("doc_id") % 3
          names.zipWithIndex.map { case (n, i) =>
            src.filter(r === i && Sampling.mixtureAccept(n, th(n), id))
              .select(lit(n).as("source"), id.as("doc_id"))
          }.reduce(_ unionByName _)
        }.select(col("source"), col("doc_id"))
      }),

      // Streaming chunker twin: chunking is a row-local transform +
      // explode, so the replayed stream emits EXACTLY the batch chunk set
      // under any slicing — shares text_chunks' oracle by construction.
      "stream_chunks" -> ((s, dir) => {
        val staged = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
          .withColumn("__ts", timestamp_micros(col("doc_id")))
        val (chunk, _, _) =
          FileReplay.timeChunks(staged, "__ts", streamReplayBatches)
        val root = FileReplay.stage(staged, chunk, Seq.empty)
        FileReplay.run(s, root, staged.schema) { src =>
          TextAnalysis.chunk(src, width = 64, stride = 48)
        }.select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), col("chunk_text"))
      }),

      // Incremental sequence packing: the corpus arrives in ascending
      // doc_id epochs; each epoch extends the manifest via packIncrement
      // with the carried (totalTokens, maxId) state — history is never
      // repacked, and the state is recovered from the manifest written so
      // far (Packing.packState), exercising the restart path. The composed
      // manifest equals the one-shot pack, so it shares pack_sequences'
      // oracle.
      "pack_incremental" -> ((s, dir) => {
        val docs = TextAnalysis.tokenStats(Tables(s, dir, "documents"))
          .select(col("doc_id").cast("long").as("doc_id"), col("n_tokens"))
        val b = docs.agg(min("doc_id"), max("doc_id")).head
        val (lo, hi) = (b.getLong(0), b.getLong(1))
        val epochs = 4
        val span = math.max(1L, hi - lo + 1L)
        val sliceOf = (k: Int) => docs.filter(
          col("doc_id") >= lo + span * k / epochs &&
            col("doc_id") < lo + span * (k + 1) / epochs + (
              if (k == epochs - 1) 1L else 0L))
        (0 until epochs).foldLeft(Option.empty[DataFrame]) { (acc, k) =>
          val st = acc.map(Packing.packState)
            .getOrElse(Packing.PackState(0L, Long.MinValue))
          val m = Packing.packIncrement(sliceOf(k), budget = 2048L, st)
          Some(acc.map(_.unionByName(m)).getOrElse(m))
        }.get
      }),

      // ---- LLM-data-pipeline extensions ------------------------------------

      // Cross-modal enrichment: each document fused with its embedding's
      // cluster label and L2 norm — the joined text+vector record a
      // curation pipeline materializes before training. Equi-join on the
      // shared id; at scale the narrow embedding side broadcasts or
      // co-buckets with the corpus.
      "join_doc_embed" -> ((s, dir) => {
        val docs = TextAnalysis.tokenStats(Tables(s, dir, "documents"))
        val embs = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            round(Similarity.l2Norm(col("embedding").cast("array<double>")), 6)
              .as("emb_norm"))
        docs.join(embs, docs("doc_id") === embs("vec_id"))
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("label"), col("emb_norm"))
      }),

      // Hot-key salted join: event_type has a handful of distinct values,
      // so a shuffle join on it pins ~1/|types| of the table on one task —
      // the exact skew shape Skew.saltedJoin spreads. The shuffle_hash hint
      // forces the shuffled path (the tiny right side would broadcast and
      // never shuffle the left at this sf); the salt then fans each hot key
      // over `factor` tasks. Results are identical to the plain join — the
      // oracle is the unsalted SQL.
      "q_skew_join" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val typeAvg = ev.groupBy(col("event_type"))
          .agg(avg(col("value")).as("type_avg"))
        Skew.saltedJoin(ev, typeAvg.hint("shuffle_hash"),
            Seq("event_type"), factor = 8)
          .filter(col("value") > col("type_avg"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_above"),
            round(avg(col("value")), 6).as("avg_above"))
      }),

      // Exact dedup: keep the earliest copy per logical event key.
      "dedup_exact" -> ((s, dir) => {
        Dedup.exact(Tables(s, dir, "events"),
            Seq("user_id", "event_type", "props"), "ts")
      }),

      // Canonical-normalization dedup. The synthetic corpus is already
      // canonical, so the gate would be vacuous on raw documents — instead
      // the query DE-canonicalizes first: a shifted-id copy of every doc
      // with a deterministic doc_id-keyed case/whitespace perturbation
      // (upper-case / doubled spaces + tab / tab-wrapped), unioned with the
      // originals. normalize() must fold each perturbed copy back onto its
      // original's canonical hash — every surviving group proves the
      // normalization, and DuckDB replays the identical perturbation.
      "dedup_normalized" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        val perturbed = docs.select(
          (col("doc_id") + lit(1000000L)).as("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0, upper(col("text")))
            .when(pmod(col("doc_id"), lit(3)) === 1,
              concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit("\t")))
            .otherwise(concat(lit("\t"), col("text"), lit(" ")))
            .as("text"))
        TextAnalysis.normalizedDupGroups(docs.unionByName(perturbed))
      }),

      // n-gram Jaccard near-dup via inverted shingle index, with the
      // hot-shingle document-frequency cap (candidates from shingles in
      // ≤ 5% of docs; exact Jaccard verified over full shingle sets).
      "dedup_ngram" -> ((s, dir) => {
        Dedup.ngramJaccard(Tables(s, dir, "documents"), minJaccard = 0.5,
          maxDocFrac = 0.05)
      }),

      // Containment near-dup: |A∩B| / min(|A|,|B|) over the same inverted
      // index — catches subset/quotation pairs Jaccard structurally misses.
      "dedup_containment" -> ((s, dir) => {
        Dedup.ngramContainment(Tables(s, dir, "documents"),
          minContainment = 0.5, maxDocFrac = 0.05)
      }),

      // MinHash(32) + LSH(8 bands × 4) candidates, exact-Jaccard verified.
      "dedup_minhash" -> ((s, dir) => {
        Dedup.minHashLsh(Tables(s, dir, "documents"), minJaccard = 0.5)
      }),

      // Same LSH candidates, EDIT-DISTANCE verified: order-sensitive
      // near-dup (Levenshtein ≤ 40% of the longer text) — the check the
      // set-based Jaccard verify structurally cannot express.
      "dedup_editdist" -> ((s, dir) => {
        Dedup.editDistancePairs(Tables(s, dir, "documents"), maxRel = 0.4)
      }),

      // Connected components over the minhash near-dup pairs: every doc in
      // a duplicate cluster labeled with the cluster's smallest id.
      "dedup_components" -> ((s, dir) => {
        val pairs = Dedup.minHashLsh(Tables(s, dir, "documents"), minJaccard = 0.5)
        Dedup.components(pairs.select(col("id1"), col("id2")))
          .select(col("id").cast("long").as("doc_id"),
            col("comp").cast("long").as("comp"))
      }),

      // End-to-end near-dup dedup: the corpus minus every non-representative
      // member of a minhash duplicate cluster (keep = smallest id).
      "dedup_survivors" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
        Dedup.survivors(docs, pairs.select(col("id1"), col("id2")))
          .select(col("doc_id"))
      }),

      // Quality-aware survivor selection: each near-dup cluster keeps its
      // highest-quality member, not its smallest id — the production
      // representative policy. max_by hash agg over the label relation.
      "dedup_survivors_scored" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
        Dedup.survivorsByScore(docs, pairs.select(col("id1"), col("id2")),
            TextAnalysis.quality(docs))
          .select(col("doc_id"))
      }),

      // END-TO-END curation: near-dup survivors → quality floor →
      // benchmark decontamination, composed in one pipeline (the
      // LLM-pipeline analog of fx_indicators' shared fan-out). Dedup runs
      // over the full pool; the % 97 slice doubles as the benchmark and is
      // excluded from the curated output (it is the eval set).
      "corpus_curation" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        Curation.curate(docs,
            docs.filter(col("doc_id") % 97 === 0)
              .withColumnRenamed("doc_id", "bench_id"))
          .filter(col("doc_id") % 97 =!= 0)
      }),

      // Per-stage curation attrition: input → dedup → quality →
      // decontaminate counts off the SAME stage relations as the pipeline
      // (one private builder — the report cannot drift from the operator).
      "curation_report" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        Curation.report(docs,
          docs.filter(col("doc_id") % 97 === 0)
            .withColumnRenamed("doc_id", "bench_id"))
      }),

      // Cross-corpus near-dup: the "dedup the new crawl against the
      // training set" probe — even doc_ids as the corpus, odd as the
      // incoming batch; only cross pairs emit (batch form of the streaming
      // band-index probe).
      "dedup_against" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.minHashLshAgainst(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          minJaccard = 0.3)
      }),

      // The COMPLETE raw-corpus → training-manifest pipeline: curate
      // (near-dup survivors → quality floor → decontamination) then pack
      // the curated stream into 1024-token training sequences — the last
      // deterministic artifact before tensors.
      "curation_packed" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val curated = Curation.curate(docs,
            docs.filter(col("doc_id") % 97 === 0)
              .withColumnRenamed("doc_id", "bench_id"))
          .filter(col("doc_id") % 97 =!= 0)
        Packing.packSequences(curated, budget = 1024L)
          .drop("n_tokens") // curated n_tokens already gated upstream
      }),

      // 60-bit SimHash fingerprints (bit-exact across engines).
      "dedup_simhash" -> ((s, dir) => {
        Dedup.simHash(Tables(s, dir, "documents"))
          .select(col("id").as("doc_id"), col("simhash"))
      }),

      // SimHash near-dup pairs: 4×15-bit chunk pigeonhole join, Hamming ≤ 3.
      "dedup_simhash_pairs" -> ((s, dir) => {
        Dedup.simHashPairs(Dedup.simHash(Tables(s, dir, "documents")))
          .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
      }),

      // Embedding cosine near-dup, blocked by cluster label.
      "dedup_embed" -> ((s, dir) => {
        Dedup.embeddingNearDup(Tables(s, dir, "embeddings"), "label", 0.35)
          .select(col("id1"), col("id2"), col("block").cast("long").as("block"),
            col("cos"))
      }),

      // Product-quantization top-k: per-subspace codebooks + asymmetric
      // distance — m byte-sized codes and m table lookups per corpus row
      // replace the d-dim scan; the storage/compute lever for 100 TB ANN.
      "ann_pq" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.pqTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
          embDim = embeddingsDim(s, dir))
          .select(col("q_id"), col("neighbor"), col("adist"),
            col("rk").cast("long").as("rk"))
      }),

      // PQ + exact re-rank (Jégou 2011's second stage): ADC top-100
      // shortlist from the same codebooks/scan as ann_pq, then exact
      // cosine on the raw vectors of ONLY the shortlisted candidates —
      // raw ADC order serves recall@5 0.34; the re-rank restores 0.94
      // (EdgeCaseSpec pins ≥0.9) at ~C/n of brute-force scoring cost.
      "ann_pq_rerank" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.pqRerankTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
          shortlist = pqRerankShortlist, embDim = embeddingsDim(s, dir))
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // SemDeDup: k-means the embedding space, prune near-identical items
      // within each learned cluster (keep-first by id) — paraphrase-level
      // dedup that hash/minhash methods cannot see.
      "dedup_semantic" -> ((s, dir) => {
        Dedup.semanticDedup(Tables(s, dir, "embeddings"))
      }),

      // Brute-force cosine top-k (exact ANN baseline); queries = every 50th id.
      "ann_topk" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // Int8-quantized top-k: quantize → dequantize → exact scoring — the
      // measurable baseline for the 4x-compression/recall trade that makes
      // a 100 TB embedding corpus scannable.
      "ann_quantized" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // LSH-bucketed approximate top-k — the scale path; rows-only check
      // (the LSH plane derivation is Spark-side only).
      "ann_lsh" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
          dim = embeddingsDim(s, dir))
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // IVF coarse-quantized approximate top-k: deterministic centroid
      // sample, corpus assigned once, queries probe 2 inverted lists.
      "ann_ivf" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // The SCALE-SAFE IVF configuration as its own tested path: stride
      // auto-sized to ~sqrt(n) centroids (assignment O(n^1.5) instead of
      // the fixed stride's O(n²/stride)) with nprobe scaled per the
      // BASELINE g-tier guidance (np=8 at ~sqrt(n) lists matched the
      // fixed-stride recall at 1/3 the cost). ann_ivf stays as the
      // fixed-stride parity gate; this is the default a 100 TB user
      // should reach for.
      "ann_ivf_auto" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
            centroidEvery = 0, nprobe = 8)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // Streaming ANN ingest twin: fixed offline quantizer, per-epoch
      // batch assignment appended to a persisted inverted-list index,
      // probe over the final index — row-local assignment makes the index
      // slicing-invariant. Same oracle as ann_ivf.
      "stream_ann" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        graft.streaming.StreamingAnnIngest.replayBatch(
            emb, emb.filter(col("vec_id") % 50 === 0), k = 5,
            batches = streamReplayBatches)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // kNN-graph build via NN-Descent — the batch counterpart of
      // graph-ANN indexes (HNSW-class): md5-hash-bucket seed cohorts, two
      // neighbor-of-neighbor refinement rounds, every step an equi-join.
      // Fixed depth + deterministic orderings make the full build
      // oracle-replayable.
      "ann_graph" -> ((s, dir) => {
        Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5, iters = 2,
          seedBuckets = 100)
          .select(col("vec_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // PageRank over the kNN graph: centrality of each vector in the
      // corpus' similarity structure — 3 rounds of join+agg with
      // per-round 10 dp rounding so any engine replays bit-identically.
      "ann_pagerank" -> ((s, dir) => {
        val g = Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5,
          iters = 2, seedBuckets = 100)
        Graphs.pageRank(
          g.select(col("vec_id").as("src"), col("neighbor").as("dst")),
          iters = 3)
      }),

      // Per-node triangle counts over the (undirected) kNN graph — local
      // clustering density: each triangle enumerated once in ascending
      // orientation via two equi-joins, corners exploded into one hash agg.
      "graph_triangles" -> ((s, dir) => {
        val g = Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5,
          iters = 2, seedBuckets = 100)
        Graphs.triangles(
            g.select(col("vec_id").as("src"), col("neighbor").as("dst")))
          .select(col("id").as("vec_id"), col("n_tri"))
      }),

      // Query-time beam search over that graph (HNSW-style walk): every
      // 50th vector as the query set, fixed entry points, 3 hops, beam 10
      // — the corpus is scanned zero times per query.
      "ann_graph_search" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val graph = Similarity.nnDescent(emb, k = 5, iters = 2,
          seedBuckets = 100)
        Similarity.graphSearch(emb, emb.filter(col("vec_id") % 50 === 0),
            graph, k = 5, beam = 10, hops = 3)
          .select(col("qid"), col("vec_id"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // Semantic decontamination: corpus vectors too close (cosine) to any
      // benchmark vector — catches the paraphrased eval leakage n-gram
      // overlap (text_contamination) misses. Scan × broadcast benchmark.
      "contamination_embed" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.contaminationByEmbedding(
          emb.filter(col("vec_id") % 97 =!= 0),
          emb.filter(col("vec_id") % 97 === 0), minCos = 0.3)
      }),

      // Recall@5 of each approximate ANN path against the exact brute-force
      // baseline on the same query set — the quality half of the
      // cost/recall trade the approximate methods make, which a
      // deterministic result check cannot see.
      "ann_recall" -> ((s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id") % 50 === 0)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(emb, qs, 5),
          Seq(
            "ivf" -> Similarity.ivfTopK(emb, qs, 5),
            "lsh" -> Similarity.lshTopK(emb, qs, 5, dim = embeddingsDim(s, dir)),
            "quantized" -> Similarity.quantizedTopK(emb, qs, 5)))
      }),

      // Johnson–Lindenstrauss random projection 64→16 dims: one corpus
      // scan, literal matrix, codegen dot folds — the 4x-cheaper distance
      // path; long form so the oracle replays each coordinate exactly.
      "embed_project" -> ((s, dir) => {
        Similarity.randomProjection(Tables(s, dir, "embeddings"), outDim = 16,
          dim = embeddingsDim(s, dir))
      }),

      // Exact top-k over the PROJECTED vectors — the reduced-dimension
      // scan whose recall vs the 64-dim exact baseline SimilaritySpec pins.
      "ann_rp" -> ((s, dir) => {
        val proj = Similarity.projectVectors(
          Tables(s, dir, "embeddings"), outDim = 16, dim = embeddingsDim(s, dir))
          .select(col("vec_id"), col("proj").as("embedding"))
        Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") % 50 === 0), 5)
          .select(col("q_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // Corpus-scale ANN: nearest neighbor for EVERY vector via IVF-list
      // self-join — the curation shape with no broadcastable query set.
      "ann_join" -> ((s, dir) => {
        Similarity.ivfSelfTopK(Tables(s, dir, "embeddings"), k = 1)
          .select(col("vec_id"), col("neighbor"), col("cos"),
            col("rk").cast("long").as("rk"))
      }),

      // Deterministic Lloyd k-means over the embedding corpus — the trainer
      // behind IVF's coarse quantizer and the clustering step of
      // cluster-then-sample data curation. Centroids broadcast as literals;
      // each iteration is one corpus scan, no shuffle of the corpus.
      "ann_kmeans" -> ((s, dir) => {
        Similarity.kMeans(Tables(s, dir, "embeddings"), k = 8, iters = 3)
      }),

      // Token statistics incl. a BPE-ish piece count.
      "text_tokens" -> ((s, dir) => {
        TextAnalysis.tokenStats(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("n_distinct").cast("long").as("n_distinct"),
            col("n_pieces").cast("long").as("n_pieces"))
      }),

      // Sliding-window chunking (64-token windows, stride 48): the
      // RAG/context-window prep stage — row-local transform + explode,
      // exact row set by integer arithmetic.
      "text_chunks" -> ((s, dir) => {
        TextAnalysis.chunk(Tables(s, dir, "documents"), width = 64, stride = 48)
      }),

      // Top-3 salient (non-stopword) terms per document.
      "text_topterms" -> ((s, dir) => {
        TextAnalysis.topTerms(Tables(s, dir, "documents"), k = 3)
          .select(col("doc_id"), col("tok"), col("n"),
            col("rk").cast("long").as("rk"))
      }),

      // TF-IDF salient terms: the (doc, token) count agg feeds both tf and
      // df; idf and the corpus size broadcast back — corpus text is read
      // and shuffled exactly once.
      "text_tfidf" -> ((s, dir) => {
        TextAnalysis.tfIdf(Tables(s, dir, "documents"), k = 3)
          .select(col("doc_id"), col("tok"), col("n"), col("tfidf"),
            col("rk").cast("long").as("rk"))
      }),

      // BM25 retrieval scoring against a fixed query term set: top-20
      // docs by Okapi relevance — tf saturation + length normalization.
      "text_bm25" -> ((s, dir) => {
        TextAnalysis.bm25(Tables(s, dir, "documents"),
            Seq("hash", "join", "vector"), k = 20)
          .select(col("doc_id"), col("n_terms"), col("bm25"),
            col("rk").cast("long").as("rk"))
      }),

      // PMI collocations: top-50 adjacent token pairs beating their
      // marginals' independence prediction (min count 5) — phrase mining.
      "text_pmi" -> ((s, dir) => {
        TextAnalysis.collocations(Tables(s, dir, "documents"),
          k = 50, minCount = 5L)
      }),

      // PII scrubbing over a constructed support-ticket text (the documents
      // corpus contains no emails/numbers): emails then 6+-digit runs to
      // typed placeholders, with audit counts. Zero shuffle.
      "text_redact" -> ((s, dir) => {
        val tickets = Tables(s, dir, "customer").select(
          col("c_custkey").as("doc_id"),
          concat(lit("Contact "), col("c_name"), lit(" at user"),
            col("c_custkey").cast("string"), lit("@example.com or acct "),
            lpad(col("c_custkey").cast("string"), 8, "0"),
            lit(" segment "), col("c_mktsegment")).as("text"))
        TextAnalysis.redact(tickets)
          .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
            col("n_numbers").cast("long").as("n_numbers"), col("redacted"))
      }),

      // Benchmark decontamination: corpus docs sharing >= 2 trigrams with a
      // deterministic "benchmark" slice (every 97th doc) — eval-leakage
      // detection; corpus exploded once, benchmark side broadcast.
      "text_contamination" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        TextAnalysis.contamination(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0)
            .withColumnRenamed("doc_id", "bench_id"),
          n = 3, minShared = 2)
      }),

      // Intra-document repetition: duplicate token-5-gram fraction, a pure
      // per-row quality signal (zero shuffle).
      "text_repetition" -> ((s, dir) => {
        TextAnalysis.repetition(Tables(s, dir, "documents"))
      }),

      // Quality scoring (length/stopword/punctuation signals + composite).
      "text_quality" -> ((s, dir) => {
        TextAnalysis.quality(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("mean_token_len"), col("stopword_ratio"),
            col("punct_ratio"), col("quality_score"))
      }),

      // Bloom-prefiltered decontamination — the shape for benchmarks too
      // big to broadcast: a few-MB sketch filters the corpus gram stream
      // row-locally; only the remainder pays the exact shuffle join.
      // Output identical to text_contamination (FPs die in the join).
      "contamination_bloom" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        TextAnalysis.contaminationBloom(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0)
            .withColumnRenamed("doc_id", "bench_id"),
          n = 3, minShared = 2)
      }),

      // Per-source winsorize + min-max normalization of the quality score
      // — cross-source score calibration: one |sources|-row bounds agg
      // broadcast back, zero corpus shuffles.
      "text_winsorize" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        val scored = TextAnalysis.quality(docs)
          .select(col("doc_id"), col("quality_score"))
          .join(docs.select(col("doc_id"), col("source")), "doc_id")
        TextAnalysis.winsorize(scored, "source", "quality_score")
          .select(col("doc_id"), col("source"), col("quality_score"),
            col("lo"), col("hi"), col("winsorized"), col("norm_score"))
      }),

      // Heuristic language ID with auditable per-language scores.
      "text_langid" -> ((s, dir) => {
        TextAnalysis.langId(Tables(s, dir, "documents"))
          .select(col("doc_id"),
            col("s_de").cast("long").as("s_de"), col("s_en").cast("long").as("s_en"),
            col("s_es").cast("long").as("s_es"), col("s_fr").cast("long").as("s_fr"),
            col("s_zh").cast("long").as("s_zh"), col("predicted"))
      }),

      // Corpus heavy-hitter tokens: Misra-Gries candidates -> exact verify,
      // so the sketch is the scale path while the OUTPUT is exact (gated).
      "text_heavyhitters" -> ((s, dir) => {
        Sketches.heavyHitters(Tables(s, dir, "documents"), minFrac = 0.002)
      }),

      // Rolling polynomial hash fingerprint of normalized text.
      "text_fingerprint" -> ((s, dir) => {
        TextAnalysis.fingerprint(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("n_norm").cast("long").as("n_norm"), col("fp"))
      }),

      // Zipf rank-frequency fit per source: OLS slope of ln(freq) on
      // ln(rank) over the top-200 terms — the corpus-health diagnostic;
      // everything after the one corpus explode is vocabulary-sized.
      "text_zipf" -> ((s, dir) => {
        TextAnalysis.zipfFit(Tables(s, dir, "documents"), topN = 200)
          .select(col("source"), col("zipf_slope"), col("intercept"),
            col("r2"), col("n_terms"))
      }),

      // Positional duplicate-SPAN statistics (the distributed re-expression
      // of exact-substring dedup): per doc, how many 8-token positions are
      // duplicated anywhere in the corpus. Explode + hash agg + equi-join.
      "dedup_spans" -> ((s, dir) => {
        Dedup.duplicateSpans(Tables(s, dir, "documents"))
      }),

      // Maximal duplicated runs: consecutive duplicated positions collapsed
      // by gaps-and-islands — the substrings an excision pass would cut.
      "dedup_span_runs" -> ((s, dir) => {
        Dedup.duplicateSpanRuns(Tables(s, dir, "documents"))
      }),

      // Corpus-order novelty: fraction of each doc's 8-token grams not
      // already present in any earlier (smaller-id) doc — the admission
      // signal for an append-only ingest. min-agg + equi-join, no sort.
      "dedup_novelty" -> ((s, dir) => {
        Dedup.corpusNovelty(Tables(s, dir, "documents"))
      }),

      // Online novelty twin: admission scoring at ingest against the shared
      // append-only gram index — novelty references only EARLIER docs, so
      // it is monotone-final at arrival and equals batch under any slicing.
      "stream_novelty" -> ((s, dir) => {
        graft.streaming.StreamingNovelty.replayBatch(
          Tables(s, dir, "documents"), batches = streamReplayBatches)
      }),

      // Subword-vocab candidate counts: top-100 word-internal char n-grams
      // (2..6) — the counting pass of a WordPiece/BPE trainer. Hash agg
      // with map-side partials + TakeOrdered (never a global vocab sort).
      "text_subwords" -> ((s, dir) => {
        TextAnalysis.subwordVocab(Tables(s, dir, "documents"))
      }),

      // Vocabulary sizing: OOV rate per language under the global top-500
      // word vocab — TakeOrdered top-k + broadcast semi-join + one agg.
      "text_oov" -> ((s, dir) => {
        TextAnalysis.oovRate(Tables(s, dir, "documents"))
      }),

      // Distributed BPE merge training (Sennrich 2016): 6 rounds of
      // pair-count → argmax → greedy merge over the vocabulary-sized
      // (word, freq) relation — the iterative half of tokenizer training.
      "text_bpe" -> ((s, dir) => {
        Bpe.train(Tables(s, dir, "documents"), steps = 6)
      }),

      // Encode the corpus with the learned merges: per-piece occurrence
      // counts — a pure scan with the model fused as a column expression.
      "text_bpe_encode" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        Bpe.encode(docs, Bpe.train(docs, steps = 6))
      }),

      // Corpus-trained unigram LM score: mean token log-prob + perplexity
      // per doc. TF pre-aggregated per (doc, token) before the vocab join
      // so Zipfian hot tokens never skew-bind a shuffle partition.
      "text_unigram_lp" -> ((s, dir) => {
        TextAnalysis.unigramLogProb(Tables(s, dir, "documents"))
      }),

      // Bigram LM score: word-order-sensitive fluency complement to the
      // unigram scorer — conditional MLE needs no corpus total, so the
      // plan has no 1-row cross join; tf pre-agg kills Zipf join skew.
      "text_bigram_lp" -> ((s, dir) => {
        TextAnalysis.bigramLogProb(Tables(s, dir, "documents"))
      }),

      // SMOOTHED bigram LM (Jelinek-Mercer interpolation, the CCNet-style
      // perplexity filter): λ·P(w2|w1) + (1−λ)·P(w2) per adjacent pair —
      // rare continuations keep a unigram floor instead of dominating the
      // raw conditional MLE. Exact-count ratios; λ arithmetic written
      // identically in both engines, so the rounded score is engine-exact.
      "text_bigram_interp" -> ((s, dir) => {
        TextAnalysis.bigramInterpLogProb(Tables(s, dir, "documents"))
      }),

      // Span EXCISION: keep the corpus-first occurrence of every duplicated
      // 8-token span, cut the rest, emit cleaned text. Keep-first is a
      // skew-safe min(struct) hash agg, never a sort-rank.
      "dedup_excise" -> ((s, dir) => {
        Dedup.exciseDuplicateSpans(Tables(s, dir, "documents"))
      }),

      // Multimodal plumbing: binary payload → stub decode. Uses the
      // pure-expression fast path (identical output to the mapPartitions
      // codec seam — MultimodalSpec asserts equality) so the query stays in
      // whole-stage codegen until a real decoder exists.
      "mm_features" -> ((s, dir) => {
        Multimodal.extractFeaturesExpr(
            Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text"))
          .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"))
      }),

      // Resize plan: fit image/video dims into a 512-box preserving aspect
      // ratio (integer floor, never upscale) — exact-arithmetic sizing
      // stage of a vision-preprocessing pipeline.
      "mm_resize" -> ((s, dir) => {
        Multimodal.resizePlan(
            Multimodal.extractFeaturesExpr(
              Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text")),
            box = 512)
          .select(col("media_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("target_w").cast("long").as("target_w"),
            col("target_h").cast("long").as("target_h"),
            col("resized"))
      }),

      // Frame-sampling plan rows for the video payloads: every 10th frame
      // index per video — the explode side of decode-then-sample, emitted
      // narrow so the binary column never travels past the scan.
      "mm_frames" -> ((s, dir) => {
        Multimodal.sampleFrames(
            Multimodal.extractFeaturesExpr(
              Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text")),
            stride = 10)
          .select(col("media_id"), col("frame_no").cast("long").as("frame_no"))
      }),

      // REAL PNG decode round-trip: encode a genuine PNG per document with
      // id-derived dimensions, then recover width/height through the
      // mapPartitions codec seam's javax.imageio header decode. The oracle
      // never touches the bytes — it knows the dimensions a priori — so the
      // only way this gate matches is if the decode is real and correct.
      "mm_png_decode" -> ((s, dir) => {
        Multimodal.extractFeatures(
            Multimodal.pngMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
      }),

      // Source-format fidelity: documents round-trip parquet → JSONL →
      // CSV → back through the library's own IO seam; the oracle is the
      // ORIGINAL table, so any quoting/escaping/type drift in the
      // non-columnar sources breaks the hash. (Adversarial payloads —
      // commas, quotes, newlines, unicode — are IOSpec's job.)
      "io_roundtrip" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents").select(
          col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        val tmp = java.nio.file.Files.createTempDirectory("graft_io").toString
        docs.write.mode("overwrite").json(tmp + "/jsonl")
        val fromJson = IO.readJsonl(s, tmp + "/jsonl", docs.schema)
        IO.writeCsv(fromJson, tmp + "/csv")
        val fromCsv = IO.readCsv(s, tmp + "/csv", docs.schema)
        IO.writeOrc(fromCsv, tmp + "/orc")
        IO.readOrc(s, tmp + "/orc")
      }),

      // Sketch profiles — the 100 TB scale path for q_distinct_agg /
      // q_percentile-class questions: HLL distincts + mergeable quantile
      // summaries, one map-side-partial hash agg, fixed-size state. The
      // gate runs the *Checked forms: exact facts (count, micro-unit sum)
      // both engines replay bit-identically, plus Spark-computed `*_ok`
      // booleans pinning each estimate inside its error contract. The
      // oracle asserts the booleans TRUE — estimates themselves are
      // engine-specific and never hashed. Production path stays
      // eventProfile/docProfile (SketchesSpec pins those too).
      "sketch_events" -> ((s, dir) => {
        Sketches.eventProfileChecked(Tables(s, dir, "events"))
      }),
      "sketch_docs" -> ((s, dir) => {
        Sketches.docProfileChecked(Tables(s, dir, "documents"))
      }),

      // Single-scan data-validation profile: per-column completeness,
      // exact cardinality and numeric ranges in ONE aggregation (long
      // format via a 1-row stack unpivot) — the constraint-suite input.
      // The exact distinct counts make this oracle-checkable; the
      // approx (HLL) mode is the standing-job default (ProfilingSpec
      // pins its error against these exact numbers).
      // Inter-arrival gap distribution per (type, day): lag over the
      // per-day partition (NOT per type alone — that serializes each type
      // onto one task; day-partitioning parallelizes at |types|×|days| and
      // costs one boundary gap per day) → exact percentile summary. The
      // one dialect seam is micros extraction (unix_micros vs epoch_us),
      // so this gate is an explicit pair, not sharedSql.
      "ev_interarrival" -> ((s, dir) => {
        reg(s, dir).sql(
          """WITH d AS (
            |  SELECT event_type,
            |         unix_micros(ts) - lag(unix_micros(ts)) OVER (
            |           PARTITION BY event_type, CAST(ts AS DATE)
            |           ORDER BY ts, event_id) AS gap_us
            |  FROM events)
            |SELECT event_type, count(gap_us) AS n,
            |       round(avg(gap_us) / 1e6, 4) AS avg_secs,
            |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p50_secs,
            |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p90_secs
            |FROM d GROUP BY event_type""".stripMargin)
      }),

      // Streaming inter-arrival twin: (type, day)-keyed last-arrival state
      // emits each gap in the epoch its successor arrives; the gap
      // multiset equals batch lag's for any slicing (the transitions
      // invariance argument). Same oracle as ev_interarrival.
      "stream_interarrival" -> ((s, dir) => {
        graft.streaming.StreamingInterarrival.replayBatch(
          Tables(s, dir, "events"), batches = streamReplayBatches)
      }),

      // K-ANONYMITY audit: group sizes over a quasi-identifier tuple
      // (segment, nation, balance-bucket) — rows in groups smaller than
      // k = 5 are re-identifiable and must be suppressed or generalized
      // before release. Two hash aggregations, both on compact relations:
      // the quasi-group counts (bounded by the quasi-domain product) and
      // the per-segment rollup.
      "privacy_kanon" -> ((s, dir) => {
        val g = Tables(s, dir, "customer")
          .groupBy(col("c_mktsegment"), col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_kb"))
          .agg(count(lit(1)).as("n"))
        g.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small_groups"),
            sum(col("n")).as("n_rows"),
            sum(when(col("n") < 5, col("n")).otherwise(0L))
              .as("n_rows_suppressed"))
      }),

      // Per-document token-distribution ENTROPY: H = −Σ p ln p over the
      // doc's own token frequencies — the cheap compressibility/diversity
      // signal (boilerplate and keyword-stuffed docs score low). One
      // explode → (doc, tok) counts with map-side partials, then a per-doc
      // aggregation; the corpus text never shuffles, only the count
      // relation.
      "text_entropy" -> ((s, dir) => {
        val tf = Tables(s, dir, "documents")
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
            .as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
        tf.groupBy("doc_id")
          .agg(sum(col("n")).as("n_tokens"),
            round(log(sum(col("n"))) -
              sum(col("n") * log(col("n"))) / sum(col("n")), 6)
              .as("entropy"))
      }),

      "profile_events" -> ((s, dir) => {
        Profiling.tableProfile(Tables(s, dir, "events"),
          Seq("user_id", "event_type", "value", "props"))
      }),

      // Constraint SUGGESTION loop: learn the contract on the even-id
      // half (profile → suggested suite), enforce it on the odd-id half —
      // suggested uniqueness/null-freedom hold; the learned value range
      // genuinely fails on unseen extremes, exercising the red path.
      "constraints_suggested" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        val suite = Profiling.suggestConstraints(Profiling.tableProfile(
          ev.filter(col("event_id") % 2 === 0),
          Seq("event_id", "user_id", "event_type", "value")))
        Profiling.checkConstraints(ev.filter(col("event_id") % 2 === 1), suite)
      }),

      // PSI distribution drift: does purchase value mass sit where view
      // value mass sits? Two |bins|-row aggs + spine join — the
      // pre-retraining drift check, per-bucket evidence included.
      "drift_events" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        Profiling.psiDrift(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "value", 0.0, 500.0, bins = 20)
      }),

      // Categorical mix drift: did the LANGUAGE composition of the corpus
      // move between the even- and odd-id halves? Categories are the
      // buckets — no binning; the spine is the union of seen values.
      "drift_lang_mix" -> ((s, dir) => {
        val docs = Tables(s, dir, "documents")
        Profiling.psiDriftCategorical(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), "lang")
      }),

      // Segment-level drift: PSI per event_type between the even- and
      // odd-id halves — a shift hidden inside one segment is not averaged
      // away by the aggregate distribution.
      "drift_by_type" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        Profiling.psiDriftByGroup(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1),
          "event_type", "value", 0.0, 500.0, bins = 10)
      }),

      // Drift-at-ingest twin: the reference side is fixed, the current
      // side arrives — per-epoch bin counts merge by a per-bin sum
      // (associative), so the streamed PSI equals the batch PSI under any
      // slicing and shares its oracle.
      "stream_drift" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        graft.streaming.StreamingProfile.replayDrift(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"),
          "ts", "value", 0.0, 500.0, bins = 20,
          batches = streamReplayBatches)
      }),

      // Exact two-sample KS drift — the binless complement to PSI: exact
      // per-distinct-value counts, CDFs via the two-level prefix sum
      // (range partition + per-partition offsets), sup-diff with a
      // deterministic argmax. One row out.
      "drift_ks" -> ((s, dir) => {
        val ev = Tables(s, dir, "events")
        Profiling.ksDrift(
          ev.filter(col("event_id") % 2 === 0),
          ev.filter(col("event_id") % 2 === 1), "value")
      }),

      // Categorical association audit: full lang × source contingency grid
      // (zero cells included) with expected counts and chi-square
      // contributions under independence.
      "profile_assoc" -> ((s, dir) => {
        Profiling.chiSquare(Tables(s, dir, "documents"), "lang", "source")
      }),

      // Streaming profile twin: per-epoch mergeable partials (counts,
      // ranges, HLL sketch per column), merged after replay. Every merge
      // component is associative+commutative, so the exact facts are
      // slicing-invariant — same oracle family as profile_events; the HLL
      // estimate column is spec-pinned (ProfilingSpec) and excluded here.
      "stream_profile" -> ((s, dir) => {
        graft.streaming.StreamingProfile.replayBatch(Tables(s, dir, "events"), "ts",
            Seq("user_id", "event_type", "value", "props"),
            batches = streamReplayBatches)
          .select(col("col_name"), col("n_rows"), col("n_nulls"),
            col("min_num"), col("max_num"))
      }),

      // Declarative constraint suite in the SAME single scan: the
      // admission-gate verdict relation. The range/set constraints are
      // deliberately violated by the data (value ≤ 50; 3-type vocabulary)
      // so the counting path is exercised, not just the zero case.
      "constraints_events" -> ((s, dir) => {
        Profiling.checkConstraints(Tables(s, dir, "events"), Seq(
          Profiling.NotNull("user_id"),
          Profiling.Unique("event_id"),
          Profiling.InRange("value", 0.0, 50.0),
          Profiling.InSet("event_type", Seq("click", "view", "purchase"))))
      }),

      // Mixed-format REAL decode: genuine PNG/JPEG/GIF/BMP payloads
      // (id mod 4), container sniffed from the bytes — the oracle knows
      // (kind, w, h) a priori; only a real per-format header decode can
      // reproduce them.
      "mm_image_decode" -> ((s, dir) => {
        Multimodal.extractFeatures(
            Multimodal.imageMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF()
          .select(col("media_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
      }),

      // REAL audio decode round-trip: genuine 16-bit PCM WAV payloads with
      // id-derived header facts, parsed back through javax.sound.sampled
      // in the codec seam — the oracle never touches bytes.
      "mm_audio_decode" -> ((s, dir) => {
        Multimodal.extractAudioFeatures(
            Multimodal.wavMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF()
          .select(col("media_id"), col("sample_rate"), col("channels"),
            col("n_frames"),
            round(col("n_frames") * lit(1000.0) / col("sample_rate"), 3)
              .as("duration_ms"))
      }),

      // REAL multi-frame decode for the video/animation leg: genuine
      // animated GIFs with id-derived (w, h, frames); dimensions come from
      // the container header and the frame count only from walking the
      // container's image blocks (ImageIO getNumImages) — then every 2nd
      // frame index is sampled, the decode-then-sample shape over real
      // multi-frame payloads (mm_frames covers the same plan over the
      // manifest stub).
      "mm_gif_frames" -> ((s, dir) => {
        Multimodal.extractFeatures(
            Multimodal.gifMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            explode(sequence(lit(0L), col("n_frames").cast("long") - 1,
              lit(2L))).as("frame_no"))
      }),

      // TRUE video container decode: genuine MJPEG-in-AVI payloads with
      // id-derived (w, h, frames) — dimensions from the hand-rolled RIFF
      // walk's avih header, frame count from WALKING the movi stream
      // chunks, and every 2nd frame's own JPEG header decoded for
      // (frame_w, frame_h); only a real container walk + per-frame decode
      // reproduces all of it. Same RIFF arithmetic the WAV codec owns.
      "mm_avi_frames" -> ((s, dir) => {
        Multimodal.extractVideoFrames(
            Multimodal.aviMediaTable(Tables(s, dir, "documents"), "doc_id"),
            stride = 2)
          .toDF()
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("frame_no"), col("frame_w"), col("frame_h"))
      }),

      // Perceptual image near-dup, HASH leg: genuine PNG payloads painted
      // so their dHash is pure id arithmetic (Multimodal.designedDHash),
      // recovered through a REAL pixel decode + 9×8 box-average — the
      // oracle replays the arithmetic without touching bytes, so the only
      // way this matches is a correct full-pixel perceptual hash.
      "dedup_image_hash" -> ((s, dir) => {
        Multimodal.dHash(
            Multimodal.dhashMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id"), col("dhash"))
      }),

      // Perceptual image near-dup, PAIR leg: the dHashes above through the
      // generic 4×16-bit Hamming banding (candidates ONLY from band
      // collisions — pigeonhole covers Hamming ≤ 3 exactly, so banded
      // candidates + exact verify EQUALS the all-pairs relation the
      // oracle computes on the designed hashes). Each id-group of 4
      // contributes exactly its (member 0, member 1) pair by design.
      "dedup_image" -> ((s, dir) => {
        val hs = Multimodal.dHash(
            Multimodal.dhashMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id").as("id"), col("dhash").as("h"))
        Dedup.hammingPairs(hs)
      }),

      // Audio near-dup, FINGERPRINT leg: genuine WAV payloads whose
      // spectrum is painted onto exact FFT bins (designed amplitudes per
      // band, zero leakage), recovered through a REAL PCM decode + a REAL
      // hand-rolled radix-2 FFT (property-pinned against a direct DFT) —
      // the oracle replays the same designed-bit arithmetic as the image
      // leg without touching bytes.
      "dedup_audio_fp" -> ((s, dir) => {
        Multimodal.audioFingerprint(
            Multimodal.fingerprintWavMediaTable(
              Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id"), col("fp"))
      }),

      // Audio near-dup, PAIR leg: the spectral fingerprints through the
      // same banded Hamming machinery as dedup_image.
      "dedup_audio" -> ((s, dir) => {
        val hs = Multimodal.audioFingerprint(
            Multimodal.fingerprintWavMediaTable(
              Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id").as("id"), col("fp").as("h"))
        Dedup.hammingPairs(hs)
      }),

      // Video near-dup, FINGERPRINT leg — the last cell of the multimodal
      // dedup square: genuine MJPEG-AVI clips whose frames all carry the
      // designed dHash pattern (a JpegProbe sweep pinned the ±10 margins
      // bit-exact through the lossy codec at every gated id); the engine
      // must walk the real container, pixel-decode every frame, and
      // majority-vote the per-frame hashes to match the oracle's pure id
      // arithmetic.
      "dedup_video_fp" -> ((s, dir) => {
        Multimodal.videoFingerprint(
            Multimodal.dhashAviMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id"), col("fp"), col("n_sampled"))
      }),

      // Video near-dup, PAIR leg: clip fingerprints through the shared
      // Hamming banding.
      "dedup_video" -> ((s, dir) => {
        val hs = Multimodal.videoFingerprint(
            Multimodal.dhashAviMediaTable(Tables(s, dir, "documents"), "doc_id"))
          .toDF().select(col("media_id").as("id"), col("fp").as("h"))
        Dedup.hammingPairs(hs)
      })
    )

  // ------------------------------------------------------- production twins

  /** Production twins for gates whose [[queries]] form carries ORACLE-
    * VERIFICATION work the standing job never pays: the checked-sketch
    * gates replay exact distincts/quantile ranks purely so DuckDB can
    * hash-gate the sketch contract, while a deployment runs the plain
    * sketch profile. [[Bench]] times each twin alongside its gate (same
    * protocol, untimed toward the total) and reports the difference as
    * per-gate harness cost, so sum-of-medians comparisons stay honest as
    * more spec-pinned gate forms arrive.
    */
  def productionPath: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sketch_events" -> ((s, dir) =>
      Sketches.eventProfile(Tables(s, dir, "events"))),
    "sketch_docs" -> ((s, dir) =>
      Sketches.docProfile(Tables(s, dir, "documents"))))

  /** Replay-HARNESS floors for the heaviest streaming replay gates — the
    * inverse split of [[productionPath]]: here the measurable twin is the
    * harness (stage the gate's exact input, run the kernel-free minimum
    * streaming query over it — [[FileReplay.harnessFloor]]), so [[Bench]]
    * reports floor time as harnessSec and gate − floor as prodSec. The
    * r10 decomposition priced this floor at ≈8-9 s of stream_corr's ~18 s
    * at sf0.1 — replay staging, query start/stop, per-epoch fixed costs
    * and sentinel epochs that a standing production stream never pays —
    * and until r13 the bench lines charged all of it to the kernels.
    */
  def replayHarness: Map[String, (SparkSession, String) => DataFrame] = {
    def corrFloor(disorder: String)(s: SparkSession, dir: String): DataFrame = {
      val ticks = Tables.eventsAsTicks(s, dir)
      val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
      val b = Tables(s, dir, "events")
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head()
      val win = StreamingCandles.durationMicros("1 hour")
      def closeT(t: Long) = Candles.closeTimeMicros(t, win)
      StreamingCorrelations.replayHarnessFloor(returns, "6 hours",
        batches = streamReplayBatches,
        boundsMicros = Some((closeT(b.getLong(0)), closeT(b.getLong(1)))),
        disorder = disorder)
    }
    def candleFloor(disorder: String)(s: SparkSession, dir: String): DataFrame =
      StreamingCandles.replayHarnessFloor(
        Tables.eventsAsTicks(s, dir), "1 hour",
        batches = streamReplayBatches, disorder = disorder)
    Map(
      "stream_corr" -> (corrFloor("0 seconds") _),
      "stream_corr_topk" -> (corrFloor("0 seconds") _),
      "stream_corr_late" -> (corrFloor("24 hours") _),
      "stream_candles" -> (candleFloor("0 seconds") _),
      "stream_candles_late" -> (candleFloor("24 hours") _))
  }

  // -------------------------------------------------------------- oracle SQL

  def oracleSql: Map[String, String] =
    sharedSql ++ Map(
      "ev_tumbling" ->
        """SELECT wstart, event_type, n, round(cents / 100.0, 4) AS sum_v,
          |       CAST((cents * 20000 + n) // (n * 2) AS BIGINT) AS avg_micro
          |FROM (SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart,
          |             event_type, count(*) AS n,
          |             sum(CAST(round(value * 100) AS BIGINT)) AS cents
          |      FROM events GROUP BY 1, 2)""".stripMargin,

      "ev_sliding" ->
        """SELECT wstart, event_type, n,
          |       CAST((cents * 20000 + n) // (n * 2) AS BIGINT) AS avg_micro
          |FROM (SELECT time_bucket(INTERVAL '6 hours', ts)
          |               - k * INTERVAL '6 hours' AS wstart,
          |             event_type, count(*) AS n,
          |             sum(CAST(round(value * 100) AS BIGINT)) AS cents
          |      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
          |      GROUP BY 1, 2)""".stripMargin,

      "ev_session" -> duckSessionSql,

      // same oracle as ev_session — streaming == batch by construction
      "stream_session" -> duckSessionSql,

      // independent theta-join formulation: the binned equi-join must
      // reproduce exact interval containment
      "range_join" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL '30 minutes' OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d
        |), sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |         max(ts) + INTERVAL '30 minutes' AS session_end
        |  FROM g GROUP BY user_id, sid)
        |SELECT s.user_id, s.session_start, s.session_end, count(*) AS n_in
        |FROM sess s JOIN events e
        |  ON e.user_id = s.user_id
        | AND e.ts >= s.session_start AND e.ts < s.session_end
        |GROUP BY 1, 2, 3""".stripMargin,

      // interval-overlap pairs: plain inequality self-join over the same
      // session CTE — the theta form the binned equi-join re-expresses
      "interval_join" ->
      """WITH d AS (
        |  SELECT user_id, ts,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                   > INTERVAL '30 minutes' OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |), g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM d
        |), sess AS (
        |  SELECT user_id, min(ts) AS s,
        |         max(ts) + INTERVAL '30 minutes' AS e
        |  FROM g GROUP BY user_id, sid)
        |SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_overlap
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
        |GROUP BY 1, 2""".stripMargin,

      // latest-wins changelog compaction: the window formulation the
      // one-shuffle max_by hash agg re-expresses
      "cdc_snapshot" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |       round(value, 4) AS last_value
        |FROM r WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

      // identical oracle — merge(snapshot(first half), second half) must
      // equal the one-shot compaction (max-associativity + tombstones)
      "cdc_incremental" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |       round(value, 4) AS last_value
        |FROM r WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

      // identical oracle — the streamed per-key max equals the batch max
      // for any slicing (see StreamingCdc scaladoc)
      "stream_cdc" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |       round(value, 4) AS last_value
        |FROM r WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

      // identical oracle again — the disorder twin proves the "no ordering
      // assumption" claim on genuinely out-of-order arrival
      "stream_cdc_late" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type AS last_type,
        |       round(value, 4) AS last_value
        |FROM r WHERE rk = 1 AND event_type <> 'error'""".stripMargin,

      // identical oracle — closed emissions supersede open ones, so the
      // folded history equals lead() for any slicing (see StreamingScd2)
      "stream_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts AS valid_from, event_type, value,
        |         lead(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS valid_to
        |  FROM events)
        |SELECT user_id, valid_from, valid_to, valid_to IS NULL AS is_current,
        |       event_type AS etype, round(value, 4) AS val
        |FROM o WHERE event_type <> 'error'""".stripMargin,

      // SCD-2 validity intervals: lead() over the full changelog (deletes
      // close the prior version, then drop out)
      "cdc_scd2" ->
      """WITH o AS (
        |  SELECT user_id, ts AS valid_from, event_type, value,
        |         lead(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS valid_to
        |  FROM events)
        |SELECT user_id, valid_from, valid_to, valid_to IS NULL AS is_current,
        |       event_type AS etype, round(value, 4) AS val
        |FROM o WHERE event_type <> 'error'""".stripMargin,

      "ev_seasonality" -> duckSeasonalitySql,

      // identical oracle: per-epoch slot counts merge associatively, so the
      // streamed hour-of-week profile equals the batch one under any slicing
      "stream_seasonality" -> duckSeasonalitySql,

      "dedup_window" ->
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, ts,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts FROM t
        |WHERE prev IS NULL OR epoch_us(ts) - prev >= 600000000""".stripMargin,

      "temporal_join" ->
      """WITH d0 AS (
        |  SELECT user_id, ts AS valid_from, event_type, value,
        |         lead(ts) OVER (PARTITION BY user_id
        |                        ORDER BY ts, event_id) AS valid_to
        |  FROM events WHERE event_type IN ('view', 'signup', 'error')),
        |d AS (SELECT * FROM d0 WHERE event_type <> 'error'),
        |f AS (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts, d.event_type AS etype,
        |       round(d.value, 4) AS val, d.valid_from
        |FROM f LEFT JOIN d
        |  ON f.user_id = d.user_id AND d.valid_from <= f.ts
        | AND (d.valid_to IS NULL OR f.ts < d.valid_to)""".stripMargin,

      // sequential conditional-min formulation of the ordered funnel — the
      // textbook SQL shape the one-shuffle array walk re-expresses
      "ev_funnel" -> duckFunnelSql,

      // same oracle — the greedy time-ordered state walk provably reaches
      // the same conditional mins (see StreamingFunnel scaladoc)
      "stream_funnel" -> duckFunnelSql,

      // same oracle under genuine disorder — the watermark-buffered walk
      // drains exact below-watermark prefixes, so attainments equal batch
      "stream_funnel_late" -> duckFunnelSql,

      "layout_zorder" -> duckZorderSql,

      "layout_zonemap" -> duckZonemapSql,

      "layout_bucketed" ->
        """SELECT o.o_orderpriority, count(*) AS n_items,
          |       round(sum(l.l_quantity), 2) AS sum_qty,
          |       round(sum(l.l_extendedprice), 2) AS sum_price
          |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          |GROUP BY 1""".stripMargin,

      "layout_compact" ->
        """WITH inv AS (
          |  SELECT source, doc_id % 37 AS file_id,
          |         CAST(sum(n_chars) AS BIGINT) AS size_bytes
          |  FROM documents GROUP BY 1, 2)
          |SELECT source, file_id, size_bytes,
          |       CAST(floor(coalesce(sum(size_bytes) OVER (
          |         PARTITION BY source ORDER BY file_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |         / 65536) AS BIGINT) AS grp
          |FROM inv""".stripMargin,

      "layout_partition_prune" ->
        """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v
          |FROM events
          |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
          |  AND CAST(ts AS DATE) <  DATE '2024-01-15'
          |GROUP BY event_type""".stripMargin,

      "ev_retention" ->
        """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          |           FROM events),
          |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
          |SELECT f.cohort_day,
          |       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
          |         AS day_offset,
          |       count(*) AS n_users
          |FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2""".stripMargin,

      // identical oracle: the replayed attainment set equals batch distinct
      // (user, day) regardless of slicing (see StreamingRetention scaladoc)
      "stream_retention" ->
        """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          |           FROM events),
          |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
          |SELECT f.cohort_day,
          |       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
          |         AS day_offset,
          |       count(*) AS n_users
          |FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2""".stripMargin,

      "feature_bins" ->
        """WITH e AS (
          |  SELECT list_transform(
          |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
          |    x -> round(x, 6)) AS edges
          |  FROM events WHERE value IS NOT NULL)
          |SELECT event_id, value,
          |       CAST(len(list_filter(e.edges, x -> value > x)) AS BIGINT) AS bin
          |FROM events, e WHERE value IS NOT NULL""".stripMargin,

      "ev_auc" ->
        """WITH s AS (
          |  SELECT value AS score,
          |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          |  FROM events WHERE value IS NOT NULL),
          |r AS (
          |  SELECT y, rank() OVER (ORDER BY score)
          |           + (count(*) OVER (PARTITION BY score) - 1) / 2.0 AS ar
          |  FROM s),
          |a AS (
          |  SELECT sum(CASE WHEN y = 1 THEN ar END) AS rpos,
          |         CAST(sum(y) AS BIGINT) AS np,
          |         CAST(count(*) - sum(y) AS BIGINT) AS nn
          |  FROM r)
          |SELECT round((rpos - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
          |       np AS n_pos, nn AS n_neg
          |FROM a""".stripMargin,

      "ev_auc_by_type" ->
        """WITH s AS (
          |  SELECT event_type, value AS score,
          |         CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END AS y
          |  FROM events WHERE value IS NOT NULL),
          |r AS (
          |  SELECT event_type, y,
          |         rank() OVER (PARTITION BY event_type ORDER BY score)
          |           + (count(*) OVER (PARTITION BY event_type, score) - 1)
          |             / 2.0 AS ar
          |  FROM s),
          |a AS (
          |  SELECT event_type, sum(CASE WHEN y = 1 THEN ar END) AS rpos,
          |         CAST(sum(y) AS BIGINT) AS np,
          |         CAST(count(*) - sum(y) AS BIGINT) AS nn
          |  FROM r GROUP BY 1)
          |SELECT event_type,
          |       CASE WHEN np > 0 AND nn > 0
          |            THEN round((rpos - np * (np + 1) / 2.0) / (np * nn), 6)
          |       END AS auc,
          |       np AS n_pos, nn AS n_neg
          |FROM a""".stripMargin,

      "ev_confusion" ->
        """WITH s AS (
          |  SELECT value AS sc,
          |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          |  FROM events WHERE value IS NOT NULL),
          |t AS (SELECT unnest([10.0, 50.0, 100.0, 250.0, 400.0]) AS threshold),
          |m AS (
          |  SELECT threshold,
          |         CAST(sum(CASE WHEN sc > threshold AND y = 1
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          |         CAST(sum(CASE WHEN sc > threshold AND y = 0
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          |         CAST(sum(CASE WHEN sc <= threshold AND y = 1
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS fn,
          |         CAST(sum(CASE WHEN sc <= threshold AND y = 0
          |                       THEN 1 ELSE 0 END) AS BIGINT) AS tn
          |  FROM t CROSS JOIN s GROUP BY threshold)
          |SELECT threshold, tp, fp, fn, tn,
          |       CASE WHEN tp + fp > 0
          |            THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6) END
          |         AS precision,
          |       CASE WHEN tp + fn > 0
          |            THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6) END
          |         AS recall
          |FROM m""".stripMargin,

      "feature_impute" ->
        """WITH h AS (
          |  SELECT event_id, event_type,
          |         CASE WHEN event_id % 7 <> 0 THEN value END AS value
          |  FROM events),
          |m AS (SELECT event_type, avg(value) AS gmean
          |      FROM h GROUP BY 1)
          |SELECT h.event_id, h.event_type,
          |       round(coalesce(h.value, m.gmean), 6) AS value,
          |       h.value IS NULL AS was_null
          |FROM h JOIN m ON h.event_type = m.event_type""".stripMargin,

      "feature_target_encode" ->
        """WITH g AS (SELECT avg(value) AS gmean
          |           FROM events WHERE value IS NOT NULL),
          |c AS (SELECT event_type, count(*) AS n, sum(value) AS s
          |      FROM events WHERE value IS NOT NULL GROUP BY 1)
          |SELECT event_type, n,
          |       round((s + 10.0 * gmean) / (n + 10.0), 6) AS encoded
          |FROM c CROSS JOIN g""".stripMargin,

      "constraints_fk" ->
        """SELECT 'li_orderkey' AS relation, count(*) AS n_rows,
          |       count(*) FILTER (WHERE l_orderkey IS NULL) AS n_null_key,
          |       count(*) FILTER (WHERE l_orderkey IS NOT NULL
          |                          AND o_orderkey IS NULL) AS n_orphan
          |FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
          |UNION ALL
          |SELECT 'li_partkey', count(*),
          |       count(*) FILTER (WHERE l_partkey IS NULL),
          |       count(*) FILTER (WHERE l_partkey IS NOT NULL
          |                          AND p_partkey IS NULL)
          |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
          |UNION ALL
          |SELECT 'ord_custkey_posbal', count(*),
          |       count(*) FILTER (WHERE o_custkey IS NULL),
          |       count(*) FILTER (WHERE o_custkey IS NOT NULL
          |                          AND c.c_custkey IS NULL)
          |FROM orders LEFT JOIN
          |  (SELECT c_custkey FROM customer WHERE c_acctbal >= 0) c
          |  ON o_custkey = c.c_custkey""".stripMargin,

      "cdc_diff" ->
        """WITH o AS (
          |  SELECT user_id, event_type AS etype, round(value, 4) AS val4
          |  FROM (SELECT user_id, event_type, value,
          |          row_number() OVER (PARTITION BY user_id
          |            ORDER BY ts DESC, event_id DESC) AS rk
          |        FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
          |  WHERE rk = 1 AND event_type <> 'error'),
          |n AS (
          |  SELECT user_id, event_type AS etype, round(value, 4) AS val4
          |  FROM (SELECT user_id, event_type, value,
          |          row_number() OVER (PARTITION BY user_id
          |            ORDER BY ts DESC, event_id DESC) AS rk
          |        FROM events)
          |  WHERE rk = 1 AND event_type <> 'error')
          |SELECT * FROM (
          |  SELECT coalesce(n.user_id, o.user_id) AS user_id,
          |         CASE WHEN o.user_id IS NULL THEN 'added'
          |              WHEN n.user_id IS NULL THEN 'deleted'
          |              WHEN o.etype IS DISTINCT FROM n.etype
          |                OR o.val4 IS DISTINCT FROM n.val4 THEN 'changed'
          |         END AS change,
          |         o.etype AS old_etype, n.etype AS new_etype,
          |         o.val4 AS old_val4, n.val4 AS new_val4
          |  FROM o FULL OUTER JOIN n ON o.user_id = n.user_id)
          |WHERE change IS NOT NULL""".stripMargin,

      "io_schema_evolution" ->
        """SELECT CASE WHEN event_id % 2 = 0 THEN '__pre_evolution__'
          |            ELSE event_type END AS event_type,
          |       count(*) AS n, round(sum(value), 4) AS sum_v
          |FROM events GROUP BY 1""".stripMargin,

      "stream_timetravel" ->
        """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
          |       round(sum(value), 4) AS sum_v
          |FROM events""".stripMargin,

      "layout_zonemap_merge" ->
        """SELECT CAST(floor(event_id / 1000) AS BIGINT) AS block,
          |       count(*) AS n_rows,
          |       min(user_id) AS mn_user_id, max(user_id) AS mx_user_id,
          |       min(value) AS mn_value, max(value) AS mx_value
          |FROM events GROUP BY 1""".stripMargin,

      "layout_bloom" ->
        """WITH e AS (
          |  SELECT CAST(floor(event_id / 1000) AS BIGINT) AS block, user_id
          |  FROM events),
          |seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
          |bloom AS (
          |  SELECT block, list(DISTINCT
          |    ((user_id % 1000000007) * (31 + 2 * seed) + 1000003 * seed)
          |      % 1000000007 % 8192) AS bl
          |  FROM e CROSS JOIN seeds GROUP BY block),
          |probes AS (SELECT CAST(unnest([0, 7, 42, 123, 999]) AS BIGINT)
          |             AS probe_key),
          |pp AS (
          |  SELECT probe_key, list(
          |    ((probe_key % 1000000007) * (31 + 2 * seed) + 1000003 * seed)
          |      % 1000000007 % 8192) AS ppos
          |  FROM probes CROSS JOIN seeds GROUP BY probe_key),
          |cand AS (
          |  SELECT probe_key, count(*) AS n_candidate_blocks
          |  FROM bloom CROSS JOIN pp WHERE list_has_all(bl, ppos)
          |  GROUP BY probe_key),
          |truth AS (
          |  SELECT probe_key, count(DISTINCT block) AS n_true_blocks
          |  FROM probes JOIN e ON user_id = probe_key GROUP BY probe_key)
          |SELECT p.probe_key,
          |       coalesce(cand.n_candidate_blocks, 0) AS n_candidate_blocks,
          |       coalesce(truth.n_true_blocks, 0) AS n_true_blocks
          |FROM probes p
          |LEFT JOIN cand ON p.probe_key = cand.probe_key
          |LEFT JOIN truth ON p.probe_key = truth.probe_key""".stripMargin,

      "layout_timetravel" ->
        """SELECT 1 AS version, count(*) AS n_rows,
          |       count(DISTINCT user_id) AS n_users,
          |       round(sum(value), 4) AS sum_v
          |FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
          |UNION ALL
          |SELECT 2, count(*), count(DISTINCT user_id), round(sum(value), 4)
          |FROM events
          |UNION ALL
          |SELECT 3, count(*), count(DISTINCT user_id), round(sum(value), 4)
          |FROM events""".stripMargin,

      "dedup_url" ->
        """WITH u AS (
          |  SELECT doc_id,
          |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
          |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
          |             WHEN doc_id % 3 = 1 THEN 'example.com'
          |             ELSE 'Example.Com' END)
          |    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
          |    || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
          |    || (CASE WHEN doc_id % 4 = 0 THEN '/?utm_source=feed&b=2&a=1'
          |             WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
          |             WHEN doc_id % 4 = 2 THEN '/'
          |             ELSE '#frag' END) AS url
          |  FROM documents),
          |p AS (
          |  SELECT doc_id,
          |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
          |      AS scheme,
          |    regexp_extract(url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
          |    regexp_extract(url,
          |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
          |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
          |  FROM u),
          |c AS (
          |  SELECT doc_id,
          |    scheme || '://'
          |    || regexp_replace(lower(regexp_replace(hostport, ':\d+$', '')),
          |                      '^www\.', '')
          |    || (CASE WHEN regexp_extract(hostport, ':(\d+)$', 1) = ''
          |               OR (scheme = 'http'
          |                   AND regexp_extract(hostport, ':(\d+)$', 1) = '80')
          |               OR (scheme = 'https'
          |                   AND regexp_extract(hostport, ':(\d+)$', 1) = '443')
          |             THEN ''
          |             ELSE ':' || regexp_extract(hostport, ':(\d+)$', 1) END)
          |    || regexp_replace(rawpath, '/+$', '')
          |    || (CASE WHEN len(list_filter(string_split(rawq, '&'),
          |                 x -> len(x) > 0 AND NOT starts_with(x, 'utm_')
          |                      AND NOT starts_with(x, 'fbclid=')
          |                      AND NOT starts_with(x, 'gclid='))) > 0
          |             THEN '?' || array_to_string(list_sort(
          |               list_filter(string_split(rawq, '&'),
          |                 x -> len(x) > 0 AND NOT starts_with(x, 'utm_')
          |                      AND NOT starts_with(x, 'fbclid=')
          |                      AND NOT starts_with(x, 'gclid='))), '&')
          |             ELSE '' END) AS canon_url
          |  FROM p)
          |SELECT canon_url, count(*) AS n_urls, min(doc_id) AS keep_id
          |FROM c GROUP BY canon_url""".stripMargin,

      "ev_transitions" ->
        """WITH s AS (
          |  SELECT event_type AS from_type,
          |         lead(event_type) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id) AS to_type
          |  FROM events),
          |m AS (
          |  SELECT from_type, to_type, count(*) AS n FROM s
          |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          |       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
          |FROM m""".stripMargin,

      "ev_paths" ->
        """WITH p AS (
          |  SELECT event_type AS s1,
          |         lead(event_type, 1) OVER w AS s2,
          |         lead(event_type, 2) OVER w AS s3
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |c AS (
          |  SELECT s1, s2, s3, count(*) AS n FROM p
          |  WHERE s3 IS NOT NULL GROUP BY 1, 2, 3),
          |r AS (
          |  SELECT s1, s2, s3, n,
          |         CAST(row_number() OVER (ORDER BY n DESC, s1, s2, s3)
          |           AS BIGINT) AS rk
          |  FROM c)
          |SELECT s1, s2, s3, n, rk FROM r WHERE rk <= 20""".stripMargin,

      // identical oracle to ev_transitions: the replayed step multiset
      // equals batch lead() under any slicing (StreamingTransitions doc)
      "stream_transitions" ->
        """WITH s AS (
          |  SELECT event_type AS from_type,
          |         lead(event_type) OVER (PARTITION BY user_id
          |           ORDER BY ts, event_id) AS to_type
          |  FROM events),
          |m AS (
          |  SELECT from_type, to_type, count(*) AS n FROM s
          |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
          |SELECT from_type, to_type, n,
          |       round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
          |FROM m""".stripMargin,

      "ev_cumulative" ->
        """WITH f AS (
          |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
          |  GROUP BY 1),
          |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
          |SELECT day, new_users,
          |       CAST(sum(new_users) OVER (ORDER BY day
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         AS BIGINT) AS cum_users
          |FROM d""".stripMargin,

      "q_unpivot" ->
        """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val
          |FROM part
          |UNION ALL
          |SELECT p_partkey, 'retail' AS attr, p_retailprice AS val
          |FROM part""".stripMargin,

      "ev_funnel_time" ->
        """WITH f AS (
          |  SELECT user_id,
          |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
          |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
          |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
          |  FROM events GROUP BY user_id)
          |SELECT 'view_to_click' AS step, count(*) AS n_users,
          |       round(avg(epoch_us(t_click) - epoch_us(t_view)) / 1e6, 4) AS avg_secs
          |FROM f WHERE t_click >= t_view
          |UNION ALL
          |SELECT 'click_to_purchase' AS step, count(*) AS n_users,
          |       round(avg(epoch_us(t_purchase) - epoch_us(t_click)) / 1e6, 4) AS avg_secs
          |FROM f WHERE t_purchase >= t_click""".stripMargin,

      "ev_rolling_active" -> duckRollingActiveSql,

      // identical oracle: distinct (day, user) pair sets union
      // associatively, so the streamed rolling actives equal batch
      "stream_rolling_active" -> duckRollingActiveSql,

      // identical oracle: the diagonal of the retention tracker's emitted
      // hits is the batch first-sight set under any slicing
      "stream_cumulative" ->
        """WITH f AS (
          |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
          |  GROUP BY 1),
          |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
          |SELECT day, new_users,
          |       CAST(sum(new_users) OVER (ORDER BY day
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |         AS BIGINT) AS cum_users
          |FROM d""".stripMargin,

      "ev_anomaly" ->
      """WITH w AS (
        |  SELECT *, time_bucket(INTERVAL '1 hour', ts) AS ws FROM events),
        |s AS (
        |  SELECT event_type, ws, avg(value) AS mu, stddev(value) AS sd
        |  FROM w GROUP BY 1, 2 HAVING stddev(value) > 0)
        |SELECT w.event_id, w.event_type, w.ts, w.value,
        |       round((w.value - s.mu) / s.sd, 6) AS z
        |FROM w JOIN s ON w.event_type = s.event_type AND w.ws = s.ws
        |WHERE abs(round((w.value - s.mu) / s.sd, 6)) >= 2.0""".stripMargin,

      // regex extraction instead of JSON functions: core-only DuckDB
      "ev_props" ->
        """WITH p AS (
          |  SELECT event_type,
          |         CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1),
          |                     '') AS BIGINT) AS v
          |  FROM events)
          |SELECT event_type, count(v) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
          |       round(avg(v), 6) AS avg_v, min(v) AS min_v, max(v) AS max_v
          |FROM p GROUP BY 1""".stripMargin,

      "fx_gapfill" ->
        """WITH tw AS (
          |  SELECT 'U' || CAST(user_id AS VARCHAR) AS key,
          |         time_bucket(INTERVAL '1 hour', ts) AS ws
          |  FROM events
          |), wins AS (SELECT DISTINCT ws FROM tw),
          |keys AS (SELECT DISTINCT key FROM tw)
          |SELECT k.key, w.ws + INTERVAL '1 hour' - INTERVAL '1 millisecond' AS ts
          |FROM wins w CROSS JOIN keys k
          |WHERE NOT EXISTS (SELECT 1 FROM tw t WHERE t.key = k.key AND t.ws = w.ws)""".stripMargin,

      "fx_candles" -> (duckCandleCte +
        """
          |SELECT key, closeTime, openStateTime, closeStateTime,
          |       minAskPrice, maxAskPrice, minBidPrice, maxBidPrice, isLive
          |FROM candles""".stripMargin),

      "fx_returns" -> (duckCandleCte +
        """
          |SELECT key, closeTime AS ts,
          |       round(ln(closeAsk / openAsk), 9) AS ret
          |FROM candles
          |WHERE closeAsk > 0 AND openAsk > 0""".stripMargin),

      "fx_corr_lagged" -> (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0)
          |SELECT a.key AS lead_key, b.key AS lag_key,
          |       round(corr(a.ret, b.ret), 6) AS lag_corr, count(*) AS n
          |FROM rets a JOIN rets b
          |  ON b.ts = a.ts + INTERVAL '1 hour' AND a.key <> b.key
          |GROUP BY 1, 2
          |HAVING count(*) >= 8 AND corr(a.ret, b.ret) IS NOT NULL""".stripMargin),

      "fx_var" -> (duckCandleCte +
        """, rets AS (
          |  SELECT key, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0),
          |c AS (
          |  SELECT key, round(quantile_cont(ret, 0.05), 6) AS var_q,
          |         count(*) AS n
          |  FROM rets GROUP BY 1 HAVING count(*) >= 20)
          |SELECT r.key, c.var_q,
          |       round(avg(CASE WHEN r.ret <= c.var_q THEN r.ret END), 6)
          |         AS es_q,
          |       count(CASE WHEN r.ret <= c.var_q THEN 1 END) AS n_tail,
          |       c.n
          |FROM rets r JOIN c USING (key)
          |GROUP BY r.key, c.var_q, c.n""".stripMargin),

      "fx_autocorr" -> (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0)
          |SELECT a.key, round(corr(a.ret, b.ret), 6) AS acf, count(*) AS n
          |FROM rets a JOIN rets b
          |  ON b.key = a.key AND b.ts = a.ts + INTERVAL '1 hour'
          |GROUP BY 1
          |HAVING count(*) >= 8 AND corr(a.ret, b.ret) IS NOT NULL""".stripMargin),

      "fx_beta" -> (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0),
          |ref AS (
          |  SELECT ts, ret AS ref_ret, key AS ref_key FROM rets
          |  WHERE key = (SELECT min(key) FROM rets))
          |SELECT r.key, f.ref_key,
          |       round(regr_slope(r.ret, f.ref_ret), 6) AS beta,
          |       round(regr_intercept(r.ret, f.ref_ret), 9) AS alpha,
          |       -- corr^2, not regr_r2: corr is NULL on a zero-variance
          |       -- side (matching the engine), where regr_r2 special-cases
          |       round(corr(r.ret, f.ref_ret) * corr(r.ret, f.ref_ret), 6)
          |         AS r2,
          |       count(*) AS n
          |FROM rets r JOIN ref f USING (ts)
          |WHERE r.key <> f.ref_key
          |GROUP BY 1, 2
          |HAVING count(*) >= 8
          |   AND regr_slope(r.ret, f.ref_ret) IS NOT NULL""".stripMargin),

      "fx_spread" -> (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0),
          |ref AS (
          |  SELECT ts, ret AS ref_ret, key AS ref_key FROM rets
          |  WHERE key = (SELECT min(key) FROM rets)),
          |s AS (
          |  SELECT r.key, f.ref_key, r.ts,
          |         sum(r.ret - f.ref_ret) OVER (PARTITION BY r.key
          |           ORDER BY r.ts) AS spread
          |  FROM rets r JOIN ref f USING (ts)
          |  WHERE r.key <> f.ref_key),
          |st AS (
          |  SELECT key, avg(spread) AS mu, stddev_samp(spread) AS sd,
          |         count(*) AS n
          |  FROM s GROUP BY 1)
          |SELECT s.key, s.ref_key, s.ts, round(s.spread, 8) + 0 AS spread,
          |       round((s.spread - st.mu) / st.sd, 4) + 0 AS z
          |FROM s JOIN st USING (key)
          |WHERE st.n >= 8 AND st.sd > 0""".stripMargin),

      "fx_cusum" -> (duckCandleCte +
        """, cl AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS x
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0),
          |st AS (
          |  SELECT key, ts, x,
          |         avg(x) OVER (PARTITION BY key) AS mu,
          |         stddev_samp(x) OVER (PARTITION BY key) AS sd
          |  FROM cl),
          |p AS (
          |  SELECT key, ts, sd,
          |         sum(x - mu) OVER (PARTITION BY key ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp
          |  FROM st),
          |c AS (
          |  SELECT key, ts, sd,
          |         round(pp - least(min(pp) OVER w, 0), 6) AS cusum_up,
          |         round(greatest(max(pp) OVER w, 0) - pp, 6) AS cusum_dn
          |  FROM p
          |  WINDOW w AS (PARTITION BY key ORDER BY ts
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT key, ts, cusum_up, cusum_dn,
          |       (sd IS NOT NULL AND (cusum_up > round(3.0 * sd, 6)
          |                         OR cusum_dn > round(3.0 * sd, 6))) AS changed
          |FROM c""".stripMargin),

      "fx_candles_6h" -> (duckCandleCte +
        """
          |SELECT key,
          |       max(closeTime) AS closeTime,
          |       arg_min(openStateTime, closeTime) AS openStateTime,
          |       arg_max(closeStateTime, closeTime) AS closeStateTime,
          |       min(minAskPrice) AS minAskPrice,
          |       max(maxAskPrice) AS maxAskPrice,
          |       min(minBidPrice) AS minBidPrice,
          |       max(maxBidPrice) AS maxBidPrice,
          |       bool_or(isLive) AS isLive
          |FROM candles
          |GROUP BY key, time_bucket(INTERVAL '6 hours', closeTime)""".stripMargin),

      "fx_interp" -> (duckCandleCte +
        """, idx AS (
          |  SELECT key, ws, isLive,
          |         CASE WHEN isLive THEN closeAsk0 END AS la,
          |         CASE WHEN isLive THEN closeBid0 END AS lb,
          |         row_number() OVER (PARTITION BY key ORDER BY ws) AS i
          |  FROM patched
          |), nbrs AS (
          |  SELECT key, ws, isLive, la, lb, i,
          |    last_value(la IGNORE NULLS) OVER wp AS pa,
          |    last_value(lb IGNORE NULLS) OVER wp AS pb,
          |    last_value(CASE WHEN isLive THEN i END IGNORE NULLS) OVER wp AS pi,
          |    first_value(la IGNORE NULLS) OVER wn AS na,
          |    first_value(lb IGNORE NULLS) OVER wn AS nb,
          |    first_value(CASE WHEN isLive THEN i END IGNORE NULLS) OVER wn AS ni
          |  FROM idx
          |  WINDOW wp AS (PARTITION BY key ORDER BY ws
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |         wn AS (PARTITION BY key ORDER BY ws
          |                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          |)
          |SELECT key,
          |       ws + INTERVAL '1 hour' - INTERVAL '1 millisecond' AS closeTime,
          |       isLive,
          |       round(CASE WHEN isLive THEN la
          |                  WHEN pa IS NULL THEN NULL
          |                  WHEN na IS NULL THEN pa
          |                  ELSE pa + (na - pa) * (i - pi) / (ni - pi) END
          |             + 0.000000001, 6) AS askInterp,
          |       round(CASE WHEN isLive THEN lb
          |                  WHEN pb IS NULL THEN NULL
          |                  WHEN nb IS NULL THEN pb
          |                  ELSE pb + (nb - pb) * (i - pi) / (ni - pi) END
          |             + 0.000000001, 6) AS bidInterp
          |FROM nbrs""".stripMargin),

      "fx_rolling" -> (duckCandleCte +
        """
          |SELECT key, closeTime,
          |       count(closeAsk) OVER w AS roll_n,
          |       round(avg(closeAsk) OVER w, 6) AS roll_avg,
          |       round(min(closeAsk) OVER w, 6) AS roll_min,
          |       round(max(closeAsk) OVER w, 6) AS roll_max,
          |       round(stddev_samp(closeAsk) OVER w, 6) AS roll_std
          |FROM candles
          |WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin),

      "fx_drawdown" -> (duckCandleCte +
        """
          |SELECT key, closeTime,
          |       round(CASE WHEN closeAsk IS NOT NULL
          |                   AND max(closeAsk) OVER w <> 0
          |                  THEN closeAsk / max(closeAsk) OVER w - 1 END, 6)
          |         AS drawdown
          |FROM candles
          |WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

      "fx_stochastic" -> (duckCandleCte +
        """, ks AS (
          |  SELECT key, closeTime,
          |         CASE WHEN max(maxAskPrice) OVER w - min(minAskPrice) OVER w > 1e-9
          |              THEN 100.0 * (closeAsk - min(minAskPrice) OVER w)
          |                   / (max(maxAskPrice) OVER w - min(minAskPrice) OVER w)
          |         END AS pct_k
          |  FROM candles WHERE closeAsk IS NOT NULL
          |  WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
          |SELECT key, closeTime, round(pct_k, 6) AS pct_k,
          |       round(avg(pct_k) OVER (PARTITION BY key ORDER BY closeTime
          |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS pct_d
          |FROM ks""".stripMargin),

      "fx_atr" -> (duckCandleCte +
        """, trs AS (
          |  SELECT key, closeTime,
          |         CASE WHEN lag(closeAsk) OVER w IS NULL
          |              THEN maxAskPrice - minAskPrice
          |              ELSE greatest(maxAskPrice - minAskPrice,
          |                            abs(maxAskPrice - lag(closeAsk) OVER w),
          |                            abs(minAskPrice - lag(closeAsk) OVER w))
          |         END AS tr
          |  FROM candles WHERE closeAsk IS NOT NULL
          |  WINDOW w AS (PARTITION BY key ORDER BY closeTime))
          |SELECT key, closeTime, round(tr, 6) AS tr,
          |       round(avg(tr) OVER (PARTITION BY key ORDER BY closeTime
          |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), 6) AS atr
          |FROM trs""".stripMargin),

      "fx_ewma" -> (duckCandleCte +
        """, lw AS (
          |  SELECT key, closeTime,
          |         list(closeAsk) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
          |  FROM candles WHERE closeAsk IS NOT NULL)
          |SELECT key, closeTime,
          |       round(list_sum(list_transform(range(len(xs)),
          |               i -> xs[i + 1] * 0.8 ** (len(xs) - 1 - i)))
          |             / ((1 - 0.8 ** len(xs)) / (1 - 0.8)), 6) AS ewma
          |FROM lw""".stripMargin),

      // Wilder decay written as the same double Spark computes (13.0/14)
      "fx_rsi" -> (duckCandleCte +
        """, d0 AS (
          |  SELECT key, closeTime,
          |         closeAsk - lag(closeAsk) OVER (PARTITION BY key ORDER BY closeTime) AS d
          |  FROM candles WHERE closeAsk IS NOT NULL),
          |d1 AS (
          |  SELECT key, closeTime,
          |         list(greatest(d, 0)) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS gs,
          |         list(greatest(-d, 0)) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ls
          |  FROM d0 WHERE d IS NOT NULL),
          |d2 AS (
          |  SELECT key, closeTime,
          |         list_sum(list_transform(range(len(gs)), i -> gs[i + 1] * (13.0/14) ** (len(gs) - 1 - i)))
          |           / ((1 - (13.0/14) ** len(gs)) / (1 - (13.0/14))) AS ag,
          |         list_sum(list_transform(range(len(ls)), i -> ls[i + 1] * (13.0/14) ** (len(ls) - 1 - i)))
          |           / ((1 - (13.0/14) ** len(ls)) / (1 - (13.0/14))) AS al
          |  FROM d1)
          |SELECT key, closeTime,
          |       round(CASE WHEN al = 0 AND ag = 0 THEN 50.0
          |                  WHEN al = 0 THEN 100.0
          |                  ELSE 100.0 - 100.0 / (1.0 + ag / al) END, 6) AS rsi
          |FROM d2""".stripMargin),

      "fx_bollinger" -> (duckCandleCte +
        """, b AS (
          |  SELECT key, closeTime,
          |         avg(closeAsk) OVER w AS mid,
          |         stddev_samp(closeAsk) OVER w AS sd,
          |         closeAsk AS v
          |  FROM candles WHERE closeAsk IS NOT NULL
          |  WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
          |SELECT key, closeTime,
          |       round(mid, 6) AS bb_mid,
          |       round(mid - 2.0 * sd, 6) AS bb_lower,
          |       round(mid + 2.0 * sd, 6) AS bb_upper,
          |       round(CASE WHEN sd > 1e-9
          |                  THEN (v - (mid - 2.0 * sd)) / ((mid + 2.0 * sd) - (mid - 2.0 * sd))
          |             END, 6) AS bb_pctb
          |FROM b""".stripMargin),

      "fx_twap" ->
        """WITH t0 AS (
          |  SELECT 'U' || CAST(user_id AS VARCHAR) AS key, ts, max(value) AS p
          |  FROM events GROUP BY 1, 2),
          |t1 AS (
          |  SELECT key, time_bucket(INTERVAL '6 hours', ts) AS ws, ts, p
          |  FROM t0),
          |t2 AS (
          |  SELECT key, ws, p,
          |         epoch_us(coalesce(
          |           lead(ts) OVER (PARTITION BY key, ws ORDER BY ts),
          |           ws + INTERVAL '6 hours') - ts) AS wt
          |  FROM t1)
          |SELECT key, ws AS wstart,
          |       round(sum(p * wt) / sum(wt), 6) AS twap,
          |       round(avg(p), 6) AS tick_avg,
          |       count(*) AS n_ticks
          |FROM t2 GROUP BY key, ws""".stripMargin,

      // decay factors written as the same double expressions Spark computes
      // (11.0/13, 25.0/27, 8.0/10) so the smoothing constants are bit-equal.
      // Sub-epsilon clamp mirrors Rolling.macd: a fast−slow EWMA difference
      // on constant stretches is pure cancellation noise with engine-
      // dependent sign (0.0 vs -0.0 hash differently) — clamp |x| < 1e-9 to
      // exact 0.0 BEFORE the signal pass, same as the Spark side.
      "fx_macd" -> (duckCandleCte +
        """, m1 AS (
          |  SELECT key, closeTime,
          |         list(closeAsk) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS xs
          |  FROM candles WHERE closeAsk IS NOT NULL),
          |m2 AS (
          |  SELECT key, closeTime,
          |         list_sum(list_transform(range(len(xs)), i -> xs[i + 1] * (11.0/13) ** (len(xs) - 1 - i)))
          |           / ((1 - (11.0/13) ** len(xs)) / (1 - (11.0/13)))
          |       - list_sum(list_transform(range(len(xs)), i -> xs[i + 1] * (25.0/27) ** (len(xs) - 1 - i)))
          |           / ((1 - (25.0/27) ** len(xs)) / (1 - (25.0/27))) AS macd0
          |  FROM m1),
          |m2c AS (
          |  SELECT key, closeTime,
          |         CASE WHEN abs(macd0) < 1e-9 THEN 0.0 ELSE macd0 END AS macd
          |  FROM m2),
          |m3 AS (
          |  SELECT key, closeTime, macd,
          |         list(macd) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ms
          |  FROM m2c),
          |m4 AS (
          |  SELECT key, closeTime, macd,
          |         list_sum(list_transform(range(len(ms)), i -> ms[i + 1] * (8.0/10) ** (len(ms) - 1 - i)))
          |           / ((1 - (8.0/10) ** len(ms)) / (1 - (8.0/10))) AS sig0
          |  FROM m3),
          |m5 AS (
          |  SELECT key, closeTime, macd,
          |         CASE WHEN abs(sig0) < 1e-9 THEN 0.0 ELSE sig0 END AS sig
          |  FROM m4)
          |SELECT key, closeTime, round(macd, 6) AS macd, round(sig, 6) AS signal,
          |       round(CASE WHEN abs(macd - sig) < 1e-9 THEN 0.0
          |                  ELSE macd - sig END, 6) AS hist
          |FROM m5""".stripMargin),

      // combined mirror of the five indicator oracles over one filtered
      // relation; the RSI chain keeps its own filtered CTEs (DuckDB list()
      // keeps the first row's null delta, Spark's collect_list skips it)
      // and left-joins back so the first row carries rsi NULL
      "fx_indicators" -> (duckCandleCte +
        """, f AS (SELECT key, closeTime, closeAsk AS v FROM candles
          |        WHERE closeAsk IS NOT NULL),
          |p AS (
          |  SELECT key, closeTime, v,
          |         count(v) OVER w4 AS roll_n,
          |         avg(v) OVER w4 AS roll_avg,
          |         min(v) OVER w4 AS roll_min,
          |         max(v) OVER w4 AS roll_max,
          |         stddev_samp(v) OVER w4 AS roll_std,
          |         list(v) OVER w10 AS xsE,
          |         list(v) OVER w30 AS xsM,
          |         avg(v) OVER w20 AS mid,
          |         stddev_samp(v) OVER w20 AS sd
          |  FROM f
          |  WINDOW w4 AS (PARTITION BY key ORDER BY closeTime ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
          |         w10 AS (PARTITION BY key ORDER BY closeTime ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
          |         w30 AS (PARTITION BY key ORDER BY closeTime ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
          |         w20 AS (PARTITION BY key ORDER BY closeTime ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
          |m AS (
          |  SELECT * EXCLUDE (macd0),
          |         CASE WHEN abs(macd0) < 1e-9 THEN 0.0 ELSE macd0 END AS macd
          |  FROM (
          |    SELECT *,
          |           list_sum(list_transform(range(len(xsM)), i -> xsM[i + 1] * (11.0/13) ** (len(xsM) - 1 - i)))
          |             / ((1 - (11.0/13) ** len(xsM)) / (1 - (11.0/13)))
          |         - list_sum(list_transform(range(len(xsM)), i -> xsM[i + 1] * (25.0/27) ** (len(xsM) - 1 - i)))
          |             / ((1 - (25.0/27) ** len(xsM)) / (1 - (25.0/27))) AS macd0
          |    FROM p) t),
          |m2 AS (
          |  SELECT *, list(macd) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS ms
          |  FROM m),
          |m3 AS (
          |  SELECT * EXCLUDE (sig0),
          |         CASE WHEN abs(sig0) < 1e-9 THEN 0.0 ELSE sig0 END AS sig
          |  FROM (
          |    SELECT *, list_sum(list_transform(range(len(ms)), i -> ms[i + 1] * (8.0/10) ** (len(ms) - 1 - i)))
          |             / ((1 - (8.0/10) ** len(ms)) / (1 - (8.0/10))) AS sig0
          |    FROM m2) t),
          |d0 AS (
          |  SELECT key, closeTime,
          |         v - lag(v) OVER (PARTITION BY key ORDER BY closeTime) AS d
          |  FROM f),
          |d1 AS (
          |  SELECT key, closeTime,
          |         list(greatest(d, 0)) OVER wr AS gs,
          |         list(greatest(-d, 0)) OVER wr AS ls
          |  FROM d0 WHERE d IS NOT NULL
          |  WINDOW wr AS (PARTITION BY key ORDER BY closeTime ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
          |d2 AS (
          |  SELECT key, closeTime,
          |         list_sum(list_transform(range(len(gs)), i -> gs[i + 1] * (13.0/14) ** (len(gs) - 1 - i)))
          |           / ((1 - (13.0/14) ** len(gs)) / (1 - (13.0/14))) AS ag,
          |         list_sum(list_transform(range(len(ls)), i -> ls[i + 1] * (13.0/14) ** (len(ls) - 1 - i)))
          |           / ((1 - (13.0/14) ** len(ls)) / (1 - (13.0/14))) AS al
          |  FROM d1),
          |rz AS (
          |  SELECT key, closeTime,
          |         CASE WHEN al = 0 AND ag = 0 THEN 50.0
          |              WHEN al = 0 THEN 100.0
          |              ELSE 100.0 - 100.0 / (1.0 + ag / al) END AS rsi
          |  FROM d2)
          |SELECT m3.key, m3.closeTime, roll_n,
          |       round(roll_avg, 6) AS roll_avg,
          |       round(roll_min, 6) AS roll_min,
          |       round(roll_max, 6) AS roll_max,
          |       round(roll_std, 6) AS roll_std,
          |       round(list_sum(list_transform(range(len(xsE)),
          |               i -> xsE[i + 1] * 0.8 ** (len(xsE) - 1 - i)))
          |             / ((1 - 0.8 ** len(xsE)) / (1 - 0.8)), 6) AS ewma,
          |       round(macd, 6) AS macd, round(sig, 6) AS signal,
          |       round(CASE WHEN abs(macd - sig) < 1e-9 THEN 0.0
          |                  ELSE macd - sig END, 6) AS hist,
          |       round(rz.rsi, 6) AS rsi,
          |       round(mid, 6) AS bb_mid,
          |       round(mid - 2.0 * sd, 6) AS bb_lower,
          |       round(mid + 2.0 * sd, 6) AS bb_upper,
          |       round(CASE WHEN sd > 1e-9
          |                  THEN (v - (mid - 2.0 * sd)) / ((mid + 2.0 * sd) - (mid - 2.0 * sd))
          |             END, 6) AS bb_pctb
          |FROM m3 LEFT JOIN rz ON rz.key = m3.key AND rz.closeTime = m3.closeTime""".stripMargin),

      "fx_corr" -> (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key1, key2, pair,
          |       round(greatest(-1.0, least(1.0, r0)), 6) AS r, n,
          |       xCount, yCount
          |FROM pairc
          |WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
          |  AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin),

      "fx_point_counts" -> (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key, cnt AS n_points FROM cnts""".stripMargin),

      // underlying series replayed from slid (the same per-(window, key)
      // points the packets carry), one row per array element; idx mirrors
      // posexplode's 0-based position in ts order
      "fx_corr_underlying" -> duckUnderlyingSql,

      // the normalized twin reconstructs the identical payload — one oracle
      "fx_corr_underlying_norm" -> duckUnderlyingSql,

      "fx_corr_nan" -> (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key1, key2,
          |       CASE WHEN r0 IS NULL OR isnan(r0)
          |            THEN 1.0
          |            ELSE round(greatest(-1.0, least(1.0, r0)), 6) END AS r,
          |       n,
          |       (r0 IS NULL OR isnan(r0)) AS isNaN
          |FROM pairs
          |WHERE r0 IS NULL OR isnan(r0)
          |   OR abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin),

      // top-3 partners per (window, key) among live pairs clearing
      // |r| >= 0.5 (NaN pairs pruned, as fx_corr): rank on the ROUNDED
      // value; ties break on the NUMERIC partner id ascending (the packed
      // total order the engine aggregates on)
      "fx_corr_topk" -> duckCorrTopkSql,

      "fx_corr_topk_dict" -> duckCorrTopkDictSql,

      // per-closed-window top-k reduced inside each epoch == batch
      "stream_corr_topk" -> duckCorrTopkSql,

      // the bounded-payload twin: fx_corr_topk's edge set with each side's
      // underlying series re-joined from slid (as the unbounded
      // fx_corr_underlying oracle does for every pair)
      "fx_corr_underlying_topk" -> (duckCandleCte + duckCorrCte +
        """, v AS (
          |  SELECT wstart, key1, key2,
          |         round(greatest(-1.0, least(1.0, r0)), 6) AS r, n
          |  FROM pairs
          |  WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
          |    AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5),
          |sym AS (
          |  SELECT wstart, key1 AS key, key2 AS partner, r, n FROM v
          |  UNION ALL
          |  SELECT wstart, key2 AS key, key1 AS partner, r, n FROM v),
          |rk AS (
          |  SELECT wstart, key, partner, r, n,
          |         row_number() OVER (PARTITION BY wstart, key
          |           ORDER BY abs(r) DESC, r DESC,
          |                    CAST(substr(partner, 2) AS BIGINT)) AS rnk
          |  FROM sym),
          |tk AS (
          |  SELECT wstart, key, partner, r, n, CAST(rnk AS BIGINT) AS rnk
          |  FROM rk WHERE rnk <= 3),
          |sides AS (
          |  SELECT t.wstart, t.key, t.partner, t.r, t.n, t.rnk,
          |         'x' AS side, s.ts, s.ret
          |  FROM tk t JOIN slid s ON s.wstart = t.wstart AND s.key = t.key
          |  UNION ALL
          |  SELECT t.wstart, t.key, t.partner, t.r, t.n, t.rnk,
          |         'y' AS side, s.ts, s.ret
          |  FROM tk t JOIN slid s ON s.wstart = t.wstart AND s.key = t.partner)
          |SELECT wstart, key, partner, r, n, rnk, side,
          |       row_number() OVER (PARTITION BY wstart, key, partner, side
          |                          ORDER BY ts) - 1 AS idx,
          |       epoch_us(ts) AS pts, round(ret, 6) AS pret
          |FROM sides""".stripMargin),

      "stream_candles" -> duckStreamCandlesSql,

      // the disordered replay must produce byte-identical output — same
      // oracle, no weakening
      "stream_candles_late" -> duckStreamCandlesSql,

      "stream_corr" -> duckStreamCorrSql,

      "stream_corr_late" -> duckStreamCorrSql,

      "stream_dedup" ->
        """SELECT DISTINCT user_id, event_type, props FROM events""".stripMargin,

      "ev_attribution" -> duckAttributionSql,

      "ev_attribution_multi" ->
        s"""WITH t AS ($duckAttributionSql),
           |k AS (SELECT purchase_id, count(*) AS kk FROM t GROUP BY 1)
           |SELECT t.click_id, t.user_id,
           |       count(*) AS n_conversions,
           |       round(sum(1.0 / kk), 6) AS credit
           |FROM t JOIN k ON t.purchase_id = k.purchase_id
           |GROUP BY t.click_id, t.user_id""".stripMargin,

      "ev_cooccurrence" -> duckCooccurrenceSql,

      // set-semantics emission fold == batch distinct self-join
      "stream_cooccurrence" -> duckCooccurrenceSql,

      "ev_trending" -> duckTrendingSql,

      // incremental window close + final dimension-sized rank == batch
      "stream_trending" -> duckTrendingSql,

      // stream-stream inner join over the replay == the batch join
      "stream_join" -> duckAttributionSql,

      "ev_attribution_outer" -> duckAttributionOuterSql,

      // outer stream-stream join: eviction-triggered null rows == batch
      "stream_join_outer" -> duckAttributionOuterSql,

      // same oracle as ev_sliding — streaming == batch by construction
      "stream_sliding" ->
        """SELECT wstart, event_type, n,
          |       CAST((cents * 20000 + n) // (n * 2) AS BIGINT) AS avg_micro
          |FROM (SELECT time_bucket(INTERVAL '6 hours', ts)
          |               - k * INTERVAL '6 hours' AS wstart,
          |             event_type, count(*) AS n,
          |             sum(CAST(round(value * 100) AS BIGINT)) AS cents
          |      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
          |      GROUP BY 1, 2)""".stripMargin,

      // right side pre-deduped per (user, ts) with max(value) — mirrors the
      // operator's deterministic greatest-payload tie rule
      "asof_join" ->
        """SELECT p.event_id, p.user_id, p.ts, p.value,
          |       v.ts AS view_ts, v.value AS view_value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, max(value) AS value
          |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
          |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

      // forward variant: DuckDB ASOF with <= picks the earliest at-or-after
      "asof_forward" ->
        """SELECT p.event_id, p.user_id, p.ts, p.value,
          |       v.ts AS view_ts, v.value AS view_value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, max(value) AS value
          |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
          |  ON p.user_id = v.user_id AND p.ts <= v.ts""".stripMargin,

      // tolerance mirror: match survives only if at most 2 hours stale
      "asof_tolerance" ->
        """SELECT p.event_id, p.user_id, p.ts, p.value,
          |       CASE WHEN p.ts <= v.ts + INTERVAL '2 hours' THEN v.ts END AS view_ts,
          |       CASE WHEN p.ts <= v.ts + INTERVAL '2 hours' THEN v.value END AS view_value
          |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          |ASOF LEFT JOIN (
          |  SELECT user_id, ts, max(value) AS value
          |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
          |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

      // nearer of the two ASOF picks per purchase (event_id is unique, so
      // the backward and forward results join 1:1); backward wins ties
      "asof_nearest" ->
        """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
          |v AS (SELECT user_id, ts, max(value) AS value
          |      FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
          |b AS (SELECT p.event_id, p.user_id, p.ts, p.value,
          |             v.ts AS bts, v.value AS bval
          |      FROM p ASOF LEFT JOIN v
          |        ON p.user_id = v.user_id AND p.ts >= v.ts),
          |f AS (SELECT p.event_id, v.ts AS fts, v.value AS fval
          |      FROM p ASOF LEFT JOIN v
          |        ON p.user_id = v.user_id AND p.ts <= v.ts)
          |SELECT b.event_id, b.user_id, b.ts, b.value,
          |       CASE WHEN bts IS NULL THEN fts
          |            WHEN fts IS NULL THEN bts
          |            WHEN (b.ts - bts) <= (fts - b.ts) THEN bts ELSE fts
          |       END AS view_ts,
          |       CASE WHEN bts IS NULL THEN fval
          |            WHEN fts IS NULL THEN bval
          |            WHEN (b.ts - bts) <= (fts - b.ts) THEN bval ELSE fval
          |       END AS view_value
          |FROM b JOIN f USING (event_id)""".stripMargin,

      "q_pivot" ->
        """SELECT user_id,
          |       round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
          |       round(avg(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
          |       round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
          |       round(avg(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
          |       round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS view
          |FROM events GROUP BY user_id""".stripMargin,

      "sample_bernoulli" ->
        """SELECT event_id, ts, event_type FROM events
          |WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |      % 1000000 < 100000""".stripMargin,

      "sample_stratified" ->
        """SELECT event_type, event_id FROM (
          |  SELECT event_type, event_id,
          |         row_number() OVER (PARTITION BY event_type
          |           ORDER BY CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
          |                    event_id) AS rk
          |  FROM events) t
          |WHERE rk <= 5""".stripMargin,

      "sample_temperature" ->
        """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
          |w AS (SELECT source, n_s, pow(n_s, 0.7) AS w0 FROM c),
          |t AS (SELECT sum(w0) AS wt FROM w),
          |r AS (
          |  SELECT source,
          |         least(1000000, CAST(round(200.0 * w0 / t.wt / n_s * 1000000)
          |           AS BIGINT)) AS thresh
          |  FROM w, t)
          |SELECT d.doc_id, d.source, r.thresh
          |FROM documents d JOIN r USING (source)
          |WHERE CAST(concat('0x', substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |      % 1000000 < r.thresh""".stripMargin,

      "drift_embed" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          |x AS (
          |  SELECT vec_id % 2 AS slice, unnest(v) AS val,
          |         generate_subscripts(v, 1) AS dim
          |  FROM e),
          |c AS (SELECT slice, dim, avg(val) AS m FROM x GROUP BY 1, 2),
          |j AS (
          |  SELECT a.dim, a.m AS ma, b.m AS mb
          |  FROM (SELECT dim, m FROM c WHERE slice = 0) a
          |  JOIN (SELECT dim, m FROM c WHERE slice = 1) b USING (dim))
          |SELECT round(sum(ma * mb) / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6)
          |         AS cos_sim,
          |       round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS l2_delta,
          |       round(max(abs(ma - mb)), 6) AS max_abs_delta,
          |       count(*) AS dims
          |FROM j""".stripMargin,

      "sample_weighted" ->
        """WITH b AS (
          |  SELECT doc_id, n_chars,
          |         (CAST(CAST(concat('0x', substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |            % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
          |  FROM documents
          |  WHERE n_chars IS NOT NULL AND n_chars > 0),
          |s AS (SELECT doc_id, n_chars, -ln(u) / n_chars AS es FROM b)
          |SELECT doc_id, n_chars, round(es * 1000.0, 9) AS es_mscore
          |FROM s ORDER BY es, doc_id LIMIT 100""".stripMargin,

      "sample_split" ->
        """WITH b AS (
          |  SELECT doc_id,
          |         CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
          |         % 1000000 AS bucket
          |  FROM documents)
          |SELECT doc_id,
          |       CASE WHEN bucket < 900000 THEN 'train'
          |            WHEN bucket < 950000 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM b""".stripMargin,

      "ev_interarrival" ->
        """WITH d AS (
          |  SELECT event_type,
          |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
          |           PARTITION BY event_type, CAST(ts AS DATE)
          |           ORDER BY ts, event_id) AS gap_us
          |  FROM events)
          |SELECT event_type, count(gap_us) AS n,
          |       round(avg(gap_us) / 1e6, 4) AS avg_secs,
          |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p50_secs,
          |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p90_secs
          |FROM d GROUP BY event_type""".stripMargin,

      // keyed-state gap emissions fold to batch lag's multiset
      "stream_interarrival" ->
        """WITH d AS (
          |  SELECT event_type,
          |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
          |           PARTITION BY event_type, CAST(ts AS DATE)
          |           ORDER BY ts, event_id) AS gap_us
          |  FROM events)
          |SELECT event_type, count(gap_us) AS n,
          |       round(avg(gap_us) / 1e6, 4) AS avg_secs,
          |       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p50_secs,
          |       round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_us) / 1e6, 4) AS p90_secs
          |FROM d GROUP BY event_type""".stripMargin,

      "privacy_kanon" ->
        """WITH g AS (
          |  SELECT c_mktsegment, c_nationkey,
          |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
          |         count(*) AS n
          |  FROM customer GROUP BY 1, 2, 3)
          |SELECT c_mktsegment,
          |       count(*) AS n_groups,
          |       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_groups,
          |       CAST(sum(n) AS BIGINT) AS n_rows,
          |       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_suppressed
          |FROM g GROUP BY 1""".stripMargin,

      "text_entropy" ->
        """WITH t AS (
          |  SELECT doc_id,
          |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
          |  FROM documents),
          |tf AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
          |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
          |FROM tf GROUP BY doc_id""".stripMargin,

      // per-column profile facts, one SELECT per column UNION'd — the
      // engine-agnostic form of the single-scan stack unpivot
      "profile_events" ->
        """SELECT 'user_id' AS col_name, count(*) AS n_rows,
          |       count(*) - count(user_id) AS n_nulls,
          |       count(DISTINCT user_id) AS n_distinct,
          |       CAST(min(user_id) AS DOUBLE) AS min_num,
          |       CAST(max(user_id) AS DOUBLE) AS max_num
          |FROM events
          |UNION ALL
          |SELECT 'event_type', count(*), count(*) - count(event_type),
          |       count(DISTINCT event_type), NULL, NULL FROM events
          |UNION ALL
          |SELECT 'value', count(*), count(*) - count(value),
          |       count(DISTINCT value), min(value), max(value) FROM events
          |UNION ALL
          |SELECT 'props', count(*), count(*) - count(props),
          |       count(DISTINCT props), NULL, NULL FROM events""".stripMargin,

      // suggestion replay: learn per-column facts on the even half, emit
      // (not_null | unique | in_range) candidates under the same rules,
      // verify the survivors on the odd half
      "constraints_suggested" ->
        """WITH ref AS (SELECT * FROM events WHERE event_id % 2 = 0),
          |cur AS (SELECT * FROM events WHERE event_id % 2 = 1),
          |prof AS (
          |  SELECT 'event_id' AS c, count(*) AS n, count(event_id) AS cnt,
          |         count(DISTINCT event_id) AS nd,
          |         CAST(min(event_id) AS DOUBLE) AS mn, CAST(max(event_id) AS DOUBLE) AS mx FROM ref
          |  UNION ALL SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id),
          |         CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE) FROM ref
          |  UNION ALL SELECT 'event_type', count(*), count(event_type),
          |         count(DISTINCT event_type), NULL, NULL FROM ref
          |  UNION ALL SELECT 'value', count(*), count(value), count(DISTINCT value),
          |         min(value), max(value) FROM ref),
          |curf AS (
          |  SELECT 'event_id' AS c, count(*) AS n2, count(event_id) AS cnt2,
          |         count(DISTINCT event_id) AS nd2,
          |         sum(CASE WHEN event_id < (SELECT mn FROM prof WHERE c = 'event_id')
          |                   OR event_id > (SELECT mx FROM prof WHERE c = 'event_id')
          |             THEN 1 ELSE 0 END) AS oor FROM cur
          |  UNION ALL SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id),
          |         sum(CASE WHEN user_id < (SELECT mn FROM prof WHERE c = 'user_id')
          |                   OR user_id > (SELECT mx FROM prof WHERE c = 'user_id')
          |             THEN 1 ELSE 0 END) FROM cur
          |  UNION ALL SELECT 'event_type', count(*), count(event_type),
          |         count(DISTINCT event_type), NULL FROM cur
          |  UNION ALL SELECT 'value', count(*), count(value), count(DISTINCT value),
          |         sum(CASE WHEN value < (SELECT mn FROM prof WHERE c = 'value')
          |                   OR value > (SELECT mx FROM prof WHERE c = 'value')
          |             THEN 1 ELSE 0 END) FROM cur),
          |cand AS (
          |  SELECT 'not_null' AS kind, p.c AS col_name, (p.n - p.cnt = 0) AS suggested,
          |         CAST(f.n2 - f.cnt2 AS BIGINT) AS n_violations
          |  FROM prof p JOIN curf f ON p.c = f.c
          |  UNION ALL
          |  SELECT 'unique', p.c, (p.cnt > 0 AND p.nd = p.cnt), CAST(f.cnt2 - f.nd2 AS BIGINT)
          |  FROM prof p JOIN curf f ON p.c = f.c
          |  UNION ALL
          |  SELECT 'in_range', p.c, (p.mn IS NOT NULL), CAST(coalesce(f.oor, 0) AS BIGINT)
          |  FROM prof p JOIN curf f ON p.c = f.c)
          |SELECT kind, col_name, n_violations, n_violations = 0 AS passed
          |FROM cand WHERE suggested""".stripMargin,

      // PSI replay: same clamp-binning, eps-guarded fractions and
      // (p-q)·ln(p/q) contributions, every float rounded at 6 dp
      "drift_events" -> duckDriftSql,
      // categorical PSI: the category is the bucket; full-outer spine of
      // seen values, eps-guarded fractions
      "drift_lang_mix" ->
        """WITH refs AS (SELECT lang FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
          |curs AS (SELECT lang FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL),
          |r AS (SELECT lang AS category, count(*) AS n_ref FROM refs GROUP BY 1),
          |c AS (SELECT lang AS category, count(*) AS n_cur FROM curs GROUP BY 1),
          |j AS (SELECT coalesce(r.category, c.category) AS category,
          |             coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
          |      FROM r FULL OUTER JOIN c ON r.category = c.category),
          |t AS (SELECT j.*, sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM j),
          |f AS (SELECT category, n_ref, n_cur,
          |        GREATEST(coalesce(CAST(n_ref AS DOUBLE) / nullif(tr, 0), 0), 1e-6) AS p,
          |        GREATEST(coalesce(CAST(n_cur AS DOUBLE) / nullif(tc, 0), 0), 1e-6) AS q
          |      FROM t)
          |SELECT category, n_ref, n_cur, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
          |       round((p - q) * ln(p / q), 6) AS contrib
          |FROM f""".stripMargin,

      // segmented PSI: group×bin spine from the distinct-type relation,
      // per-group totals as partitioned window sums
      "drift_by_type" ->
        """WITH refs AS (SELECT * FROM events WHERE event_id % 2 = 0),
          |curs AS (SELECT * FROM events WHERE event_id % 2 = 1),
          |r AS (SELECT event_type AS grp,
          |        LEAST(GREATEST(CAST(floor((value - 0.0) / 500.0 * 10) AS BIGINT), 0), 9) AS bin,
          |        count(*) AS n_ref
          |      FROM refs WHERE value IS NOT NULL GROUP BY 1, 2),
          |c AS (SELECT event_type AS grp,
          |        LEAST(GREATEST(CAST(floor((value - 0.0) / 500.0 * 10) AS BIGINT), 0), 9) AS bin,
          |        count(*) AS n_cur
          |      FROM curs WHERE value IS NOT NULL GROUP BY 1, 2),
          |g AS (SELECT DISTINCT grp FROM (
          |        SELECT event_type AS grp FROM refs
          |        UNION ALL SELECT event_type FROM curs)),
          |s AS (SELECT grp, unnest(range(10)) AS bin FROM g),
          |j AS (SELECT s.grp, s.bin, coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
          |      FROM s LEFT JOIN r ON s.grp = r.grp AND s.bin = r.bin
          |             LEFT JOIN c ON s.grp = c.grp AND s.bin = c.bin),
          |t AS (SELECT j.*, sum(n_ref) OVER (PARTITION BY grp) AS tr,
          |             sum(n_cur) OVER (PARTITION BY grp) AS tc FROM j),
          |f AS (SELECT grp, bin, n_ref, n_cur,
          |        GREATEST(coalesce(CAST(n_ref AS DOUBLE) / nullif(tr, 0), 0), 1e-6) AS p,
          |        GREATEST(coalesce(CAST(n_cur AS DOUBLE) / nullif(tc, 0), 0), 1e-6) AS q
          |      FROM t)
          |SELECT grp AS event_type, bin, n_ref, n_cur,
          |       round(p, 6) AS p_ref, round(q, 6) AS p_cur,
          |       round((p - q) * ln(p / q), 6) AS contrib
          |FROM f""".stripMargin,
      // identical oracle: bin counts merge associatively, so the streamed
      // PSI equals the batch PSI under any slicing
      "stream_drift" -> duckDriftSql,

      // exact KS: cumulative long counts divide once at the end, so the
      // doubles (and the sup's argmax) are engine-identical
      "drift_ks" ->
      """WITH t AS (
        |  SELECT value AS v,
        |         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS isr,
        |         CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END AS isc
        |  FROM events WHERE value IS NOT NULL),
        |counts AS (
        |  SELECT v, CAST(sum(isr) AS BIGINT) AS nr, CAST(sum(isc) AS BIGINT) AS nc
        |  FROM t GROUP BY v),
        |cum AS (
        |  SELECT v,
        |         sum(nr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cr,
        |         sum(nc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cc
        |  FROM counts),
        |tot AS (SELECT CAST(sum(nr) AS BIGINT) AS n_ref,
        |               CAST(sum(nc) AS BIGINT) AS n_cur FROM counts),
        |dd AS (
        |  SELECT v, abs(CAST(cr AS DOUBLE) / n_ref - CAST(cc AS DOUBLE) / n_cur) AS d
        |  FROM cum CROSS JOIN tot)
        |SELECT round((SELECT max(d) FROM dd), 6) AS ks,
        |       round((SELECT v FROM dd ORDER BY d DESC, v LIMIT 1), 6) AS at_value,
        |       (SELECT n_ref FROM tot) AS n_ref,
        |       (SELECT n_cur FROM tot) AS n_cur""".stripMargin,

      "profile_assoc" ->
      """WITH b AS (SELECT lang AS a, source AS b FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL),
        |obs AS (SELECT a, b, count(*) AS o FROM b GROUP BY a, b),
        |ma AS (SELECT a, count(*) AS na FROM b GROUP BY a),
        |mb AS (SELECT b, count(*) AS nb FROM b GROUP BY b),
        |tot AS (SELECT count(*) AS n FROM b),
        |grid AS (
        |  SELECT ma.a, mb.b, coalesce(obs.o, 0) AS o,
        |         CAST(ma.na AS DOUBLE) * mb.nb / tot.n AS e
        |  FROM ma CROSS JOIN mb CROSS JOIN tot
        |  LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b)
        |SELECT a, b, CAST(o AS BIGINT) AS o, round(e, 6) AS e,
        |       round((o - e) * (o - e) / e, 6) AS contrib
        |FROM grid""".stripMargin,

      // the streamed profile's exact facts — identical per-column form to
      // profile_events minus the (engine-specific) distinct estimate
      "stream_profile" ->
        """SELECT 'user_id' AS col_name, count(*) AS n_rows,
          |       count(*) - count(user_id) AS n_nulls,
          |       CAST(min(user_id) AS DOUBLE) AS min_num,
          |       CAST(max(user_id) AS DOUBLE) AS max_num FROM events
          |UNION ALL
          |SELECT 'event_type', count(*), count(*) - count(event_type),
          |       NULL, NULL FROM events
          |UNION ALL
          |SELECT 'value', count(*), count(*) - count(value),
          |       min(value), max(value) FROM events
          |UNION ALL
          |SELECT 'props', count(*), count(*) - count(props),
          |       NULL, NULL FROM events""".stripMargin,

      // one scalar SELECT per constraint, UNION'd — violation counters
      // mirror the operator's null policy (only not_null counts nulls)
      "constraints_events" ->
        """SELECT 'not_null' AS kind, 'user_id' AS col_name,
          |       CAST(count(*) - count(user_id) AS BIGINT) AS n_violations,
          |       count(*) - count(user_id) = 0 AS passed FROM events
          |UNION ALL
          |SELECT 'unique', 'event_id',
          |       CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT),
          |       count(event_id) - count(DISTINCT event_id) = 0 FROM events
          |UNION ALL
          |SELECT 'in_range', 'value',
          |       CAST(sum(CASE WHEN value < 0 OR value > 50 THEN 1 ELSE 0 END) AS BIGINT),
          |       sum(CASE WHEN value < 0 OR value > 50 THEN 1 ELSE 0 END) = 0 FROM events
          |UNION ALL
          |SELECT 'in_set', 'event_type',
          |       CAST(sum(CASE WHEN event_type IS NOT NULL
          |                      AND event_type NOT IN ('click','view','purchase')
          |                THEN 1 ELSE 0 END) AS BIGINT),
          |       sum(CASE WHEN event_type IS NOT NULL
          |                 AND event_type NOT IN ('click','view','purchase')
          |           THEN 1 ELSE 0 END) = 0 FROM events""".stripMargin,

      // round-trip fidelity: the oracle IS the original table
      "io_roundtrip" ->
        "SELECT doc_id, text, lang, source, n_chars FROM documents",

      // sketch contract gates: the oracle replays the EXACT facts (count;
      // micro-unit sum whose terms are rounded to exact longs before the
      // fold, so both engines sum identical integers in any order) and
      // asserts every Spark-computed within-bound boolean TRUE. A hash
      // match proves the HLL/quantile estimates landed inside their
      // contract without hashing the engine-specific estimates.
      "sketch_events" ->
        """SELECT event_type,
          |       count(*) AS n,
          |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
          |         AS sum_value_micro,
          |       TRUE AS users_ok, TRUE AS props_ok,
          |       TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
          |FROM events GROUP BY event_type""".stripMargin,

      "sketch_docs" ->
        """WITH t AS (
          |  SELECT lang,
          |         len(list_filter(string_split(lower(text), ' '),
          |             x -> len(x) > 0)) AS n_toks
          |  FROM documents)
          |SELECT lang, count(*) AS n_docs,
          |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
          |       TRUE AS vocab_ok, TRUE AS p50_ok, TRUE AS p90_ok
          |FROM t GROUP BY lang""".stripMargin,

      // budget trim: the pack_curriculum rank + running sum, filtered at
      // the 10k-token boundary (tok_start < budget keeps the crossing doc)
      "sample_budget_trim" ->
        """WITH q AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM documents),
          |s AS (
          |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM q),
          |r AS (
          |  SELECT doc_id, n_tokens, quality_score,
          |         CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rank
          |  FROM s),
          |p AS (SELECT doc_id, rank, n_tokens, quality_score,
          |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rank
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
          |      FROM r)
          |SELECT doc_id, rank, n_tokens, tok_start, quality_score
          |FROM p WHERE tok_start < 10000""".stripMargin,

      // exact-k sample: order by the 60-bit md5-hex prefix (the md5Long
      // family every sampling oracle uses), id tie-break, take 100
      "sample_topk" ->
        """SELECT doc_id FROM documents
          |ORDER BY CAST(concat('0x', substr(md5('topk:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
          |         doc_id
          |LIMIT 100""".stripMargin,

      // leak-free split: the recursive components CTE yields the cluster
      // label; the split bucket hashes coalesce(label, own id)
      "sample_split_leakfree" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """,
          |sk AS (
          |  SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS split_key
          |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
          |b AS (
          |  SELECT doc_id, split_key,
          |         CAST(concat('0x', substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT)
          |         % 1000000 AS bucket
          |  FROM sk)
          |SELECT doc_id, split_key,
          |       CASE WHEN bucket < 900000 THEN 'train'
          |            WHEN bucket < 950000 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM b""".stripMargin),

      // per-source quota: the text_quality score formula, then a plain
      // per-source row_number — the salted tournament is plan shape only,
      // the result is the exact top-25
      "quota_per_source" ->
        """WITH t AS (
          |  SELECT doc_id, source, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM documents
          |), s AS (
          |  SELECT doc_id, source, len(toks) AS n_tokens,
          |         CAST(len(list_filter(toks, w -> list_contains(
          |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |           / greatest(len(toks), 1) AS stop_ratio,
          |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
          |  FROM t
          |), qs AS (
          |  SELECT doc_id, source,
          |         round(least(n_tokens / 20.0, 1.0) * 0.4
          |               + least(stop_ratio * 5.0, 1.0) * 0.3
          |               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
          |  FROM s)
          |SELECT doc_id, source, quality_score, rank FROM (
          |  SELECT doc_id, source, quality_score,
          |         CAST(row_number() OVER (PARTITION BY source
          |           ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
          |  FROM qs) r
          |WHERE rank <= 25""".stripMargin,

      "sample_mixture" -> duckMixtureSql,
      // identical oracle: the replay accepts exactly the batch row set
      // (thresholds are table-stats scalars; membership is row-local)
      "stream_mixture" -> duckMixtureSql,

      "pack_sequences" -> duckPackSql,

      // quality-ranked pack: the text_quality score formula, a dense rank
      // under (score desc, doc_id), then duckPackSql's arithmetic in rank
      // order
      "pack_curriculum" ->
      """WITH q AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         round(least(len(toks) / 20.0, 1.0) * 0.4
        |               + least(CAST(len(list_filter(toks, w -> list_contains(
        |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
        |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
        |           6) AS quality_score
        |  FROM q),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rank
        |  FROM s),
        |p AS (SELECT doc_id, rank, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rank
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |      FROM r)
        |SELECT doc_id, rank, n_tokens, tok_start,
        |       tok_start // 2048 AS seq_id,
        |       tok_start % 2048 AS seq_offset,
        |       (tok_start + GREATEST(n_tokens, 1) - 1) // 2048 - tok_start // 2048 + 1 AS spans
        |FROM p""".stripMargin,
      // identical oracle: append-only id-ordered increments compose to the
      // one-shot manifest (EdgeCaseSpec pins pack(A)+incr(B) == pack(A∪B))
      "pack_incremental" -> duckPackSql,

      // ---- LLM-pipeline extension oracles ----------------------------------
      // Validated bit-exact against DuckDB 1.0 locally (tools/check_oracle.py):
      // every hash is the portable md5-hex-prefix family, every float is
      // explicitly rounded, so Spark and DuckDB agree exactly.

      "dedup_exact" ->
      """SELECT user_id, event_type, props, min(ts) AS first_ts,
        |       count(*) AS n_copies
        |FROM events GROUP BY user_id, event_type, props""".stripMargin,

      "dedup_normalized" ->
      """WITH p AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |              WHEN doc_id % 3 = 1
        |                THEN '  ' || replace(text, ' ', '  ') || chr(9)
        |              ELSE chr(9) || text || ' ' END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |  FROM p)
        |SELECT norm_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM n GROUP BY norm_hash HAVING count(*) >= 2""".stripMargin,

      "join_doc_embed" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT t.doc_id, t.n_tokens, CAST(e.label AS BIGINT) AS label,
        |       round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[]))), 6) AS emb_norm
        |FROM t JOIN embeddings e ON t.doc_id = e.vec_id""".stripMargin,

      // the salted join is semantically the plain join — the oracle is the
      // unsalted SQL
      "q_skew_join" ->
      """SELECT e.event_type, count(*) AS n_above,
        |       round(avg(e.value), 6) AS avg_above
        |FROM events e
        |JOIN (SELECT event_type, avg(value) AS type_avg
        |      FROM events GROUP BY event_type) t
        |  ON e.event_type = t.event_type
        |WHERE e.value > t.type_avg
        |GROUP BY e.event_type""".stripMargin,

      "text_tokens" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks, lower(text) AS lt FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       CAST(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_pieces
        |FROM t""".stripMargin,

      // sliding-window chunks: same integer chunk-count arithmetic, token
      // slices re-joined with single spaces
      "text_chunks" -> duckChunksSql,
      // identical oracle: chunking is row-local, so the replayed stream
      // emits exactly the batch chunk set
      "stream_chunks" -> duckChunksSql,

      "text_topterms" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tok FROM t
        |  WHERE tok NOT IN ('the','a','an','and','of','to','in','is','it','that')),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM f GROUP BY doc_id, tok),
        |r AS (
        |  SELECT doc_id, tok, n,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rk
        |  FROM c)
        |SELECT doc_id, tok, n, rk FROM r WHERE rk <= 3""".stripMargin,

      "text_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tok FROM t
        |  WHERE tok NOT IN ('the','a','an','and','of','to','in','is','it','that')),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM f GROUP BY doc_id, tok),
        |d AS (SELECT tok, count(*) AS df FROM c GROUP BY tok),
        |nn AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |s AS (
        |  SELECT c.doc_id, c.tok, c.n,
        |         round(c.n * (ln((nd + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM c JOIN d USING (tok) CROSS JOIN nn),
        |r AS (SELECT doc_id, tok, n, tfidf,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
        |      FROM s)
        |SELECT doc_id, tok, n, tfidf, rk FROM r WHERE rk <= 3""".stripMargin,

      "text_bm25" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |       WHERE tok IN ('hash', 'join', 'vector') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |sc AS (
        |  SELECT tf.doc_id,
        |         ln(1.0 + (st.nd - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * (1.2 + 1.0)
        |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
        |agg AS (SELECT doc_id, count(*) AS n_terms, round(sum(s), 6) AS bm25
        |        FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_terms, bm25,
        |             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        |      FROM agg)
        |SELECT doc_id, n_terms, bm25, rk FROM r WHERE rk <= 20""".stripMargin,

      "text_pmi" ->
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS n12 FROM b GROUP BY 1, 2),
        |l AS (SELECT w1, sum(n12) AS n1 FROM cb GROUP BY 1),
        |r AS (SELECT w2, sum(n12) AS n2 FROM cb GROUP BY 1),
        |tt AS (SELECT sum(n12) AS t FROM cb)
        |SELECT cb.w1, cb.w2, CAST(cb.n12 AS BIGINT) AS n12,
        |       round(ln(CAST(cb.n12 AS DOUBLE) * tt.t
        |                / (CAST(l.n1 AS DOUBLE) * r.n2)), 6) AS pmi
        |FROM cb JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt
        |WHERE cb.n12 >= 5
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 50""".stripMargin,

      "text_redact" ->
      """WITH t AS (
        |  SELECT c_custkey AS doc_id,
        |         'Contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) ||
        |         '@example.com or acct ' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') ||
        |         ' segment ' || c_mktsegment AS text
        |  FROM customer),
        |r AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |                        '<EMAIL>', 'g') AS de
        |  FROM t)
        |SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(de, '[0-9]{6,}')) AS n_numbers,
        |       regexp_replace(de, '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM r""".stripMargin,

      // same trigram construction as the minhash CTE; corpus/bench split by
      // doc_id mod, intersection size via the shingle equi-join
      "text_contamination" -> duckContaminationSql,

      // identical oracle: the Bloom pre-filter only removes grams the
      // exact join would reject anyway, so the output is bit-identical
      "contamination_bloom" -> duckContaminationSql,

      "text_repetition" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(range(greatest(len(toks) - 5, 0) + 1),
        |             i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')),
        |           s -> len(string_split(s, ' ')) = 5) AS grams
        |  FROM t)
        |SELECT doc_id, len(grams) AS n_grams, len(list_distinct(grams)) AS n_uniq,
        |       CASE WHEN len(grams) > 0
        |            THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
        |            ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin,

      "text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n_chars, len(toks) AS n_tokens,
        |         CAST(n_nonws AS DOUBLE) / greatest(len(toks), 1) AS mean_len,
        |         CAST(len(list_filter(toks, w -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |           / greatest(len(toks), 1) AS stop_ratio,
        |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
        |  FROM t)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(mean_len, 6) AS mean_token_len,
        |       round(stop_ratio, 6) AS stopword_ratio,
        |       round(punct_ratio, 6) AS punct_ratio,
        |       round(least(n_tokens / 20.0, 1.0) * 0.4
        |             + least(stop_ratio * 5.0, 1.0) * 0.3
        |             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
        |FROM s""".stripMargin,

      // same quality CTE; per-source quantile_cont bounds, then the
      // row-local clamp/rescale replayed on identical 6 dp doubles
      "text_winsorize" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |         CAST(len(list_filter(toks, w -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |           / greatest(len(toks), 1) AS stop_ratio,
        |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
        |  FROM t
        |), qs AS (
        |  SELECT doc_id,
        |         round(least(n_tokens / 20.0, 1.0) * 0.4
        |               + least(stop_ratio * 5.0, 1.0) * 0.3
        |               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
        |  FROM s
        |), j AS (
        |  SELECT q.doc_id, d.source, q.quality_score
        |  FROM qs q JOIN documents d USING (doc_id)
        |), b AS (
        |  SELECT source,
        |         round(quantile_cont(quality_score, 0.05), 6) AS lo,
        |         round(quantile_cont(quality_score, 0.95), 6) AS hi
        |  FROM j GROUP BY 1)
        |SELECT j.doc_id, j.source, j.quality_score, b.lo, b.hi,
        |       least(greatest(j.quality_score, b.lo), b.hi) AS winsorized,
        |       CASE WHEN b.hi > b.lo
        |            THEN round((least(greatest(j.quality_score, b.lo), b.hi) - b.lo)
        |                       / (b.hi - b.lo), 6)
        |            ELSE 0.5 END AS norm_score
        |FROM j JOIN b USING (source)""".stripMargin,

      "text_langid" ->
      """WITH t AS (SELECT doc_id, text, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, w -> list_contains(['der','die','und','das','ist','nicht','ein'], w))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, w -> list_contains(['the','a','and','of','to','is','in'], w))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, w -> list_contains(['el','los','y','es','un','una','por'], w))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, w -> list_contains(['le','les','et','est','un','une','pour'], w))) AS BIGINT) AS s_fr,
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM s""".stripMargin,

      "text_heavyhitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
        |       round(count(*) / (SELECT n FROM tot), 6) AS frac
        |FROM toks GROUP BY tok
        |HAVING CAST(count(*) AS DOUBLE) >= 0.002 * (SELECT n FROM tot)""".stripMargin,

      "text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (a, b) -> (a * 31 + b) % 2147483647) AS fp
        |FROM n""".stripMargin,

      "text_zipf" ->
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT source, n,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n DESC, tok) AS rk
        |  FROM c),
        |l AS (
        |  SELECT source, ln(CAST(rk AS DOUBLE)) AS lx,
        |         ln(CAST(n AS DOUBLE)) AS ly
        |  FROM r WHERE rk <= 200)
        |SELECT source,
        |       round(regr_slope(ly, lx), 6) AS zipf_slope,
        |       round(regr_intercept(ly, lx), 6) AS intercept,
        |       round(corr(ly, lx) * corr(ly, lx), 6) AS r2,
        |       count(*) AS n_terms
        |FROM l GROUP BY source""".stripMargin,

      "dedup_spans" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2)
        |SELECT g.doc_id, count(*) AS n_pos,
        |       CAST(sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pos,
        |       count(DISTINCT CASE WHEN d.k IS NOT NULL THEN g.k END) AS n_dup_ngrams,
        |       round(CAST(sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM g LEFT JOIN dup d ON g.k = d.k
        |GROUP BY 1""".stripMargin,

      "dedup_span_runs" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2),
        |dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup d ON g.k = d.k),
        |r AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dp)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start, count(*) AS n_grams,
        |       count(*) + 7 AS run_tokens
        |FROM r GROUP BY doc_id, grp""".stripMargin,

      "text_bpe" -> duckBpeSql,
      "text_bpe_encode" -> duckBpeEncodeSql,

      "text_subwords" ->
      """WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w FROM documents),
        |s AS (
        |  SELECT substr(w, i + 1, l) AS sw
        |  FROM w, UNNEST(range(2, 7)) AS ll(l), UNNEST(range(0, len(w) - l + 1)) AS ii(i)
        |  WHERE len(w) >= l)
        |SELECT sw, count(*) AS cnt FROM s GROUP BY 1
        |ORDER BY cnt DESC, sw LIMIT 100""".stripMargin,

      "text_oov" ->
      """WITH t AS (SELECT lang, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok FROM documents),
        |v AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS cnt FROM t GROUP BY 1
        |  ORDER BY cnt DESC, tok LIMIT 500)),
        |c AS (SELECT t.lang, count(*) AS n_tokens,
        |             CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |      FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY 1)
        |SELECT lang, n_tokens, n_covered,
        |       round((n_tokens - n_covered) / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
        |FROM c""".stripMargin,

      "dedup_novelty" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |f AS (SELECT k, min(doc_id) AS first_doc FROM g GROUP BY k)
        |SELECT g.doc_id, count(*) AS n_pos,
        |       CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_pos,
        |       round((count(*) - sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END))
        |             / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM g JOIN f USING (k)
        |GROUP BY 1""".stripMargin,

      // identical oracle: the replayed score set equals batch corpusNovelty
      // under any slicing (novelty is monotone-final at arrival — see
      // StreamingNovelty scaladoc)
      "stream_novelty" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |f AS (SELECT k, min(doc_id) AS first_doc FROM g GROUP BY k)
        |SELECT g.doc_id, count(*) AS n_pos,
        |       CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_pos,
        |       round((count(*) - sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END))
        |             / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM g JOIN f USING (k)
        |GROUP BY 1""".stripMargin,

      "text_unigram_lp" ->
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |         round(sum(tf.tf * ln(CAST(v.cnt AS DOUBLE) / tot.total)) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN v USING (tok) CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin,

      "text_bigram_lp" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM cb GROUP BY 1),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |         round(sum(tf.tf * ln(CAST(cb.cnt AS DOUBLE) / cu.tot)) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN cb USING (w1, w2) JOIN cu USING (w1)
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin,

      "text_bigram_interp" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM cb GROUP BY 1),
        |uni AS (SELECT w2, count(*) AS ucnt FROM (SELECT unnest(toks) AS w2 FROM t) x GROUP BY 1),
        |tt AS (SELECT CAST(sum(ucnt) AS BIGINT) AS total FROM uni),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |         round(sum(tf.tf * ln(0.7 * (CAST(cb.cnt AS DOUBLE) / cu.tot) +
        |                              (1 - 0.7) * (CAST(uni.ucnt AS DOUBLE) / tt.total))) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN cb USING (w1, w2) JOIN cu USING (w1) JOIN uni USING (w2) CROSS JOIN tt
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin,

      "dedup_excise" -> duckExciseSql,

      // same oracle as dedup_excise — the streaming replay's per-epoch
      // union equals the batch excision regardless of slicing
      "stream_excise" -> duckExciseSql,

      "dedup_simhash" -> (duckSimhashCte +
      """
        |SELECT doc_id, simhash FROM sim""".stripMargin),

      "dedup_simhash_pairs" -> (duckSimhashCte +
      """,
        |chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> CAST(c*15 AS INT)) & 32767 AS chunk
        |  FROM sim CROSS JOIN range(4) r(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT id1, id2, hamming FROM cand WHERE hamming <= 3""".stripMargin),

      "mm_features" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                         WHEN 1 THEN 'audio/wav'
        |                         ELSE 'video/mp4' END AS kind,
        |         CAST(strlen(text) AS BIGINT) AS n_bytes,
        |         md5(text) AS checksum
        |  FROM documents)
        |SELECT media_id, kind, n_bytes, checksum,
        |       CAST(16 + CAST(concat('0x', substr(checksum, 1, 4)) AS BIGINT) % 4080 AS BIGINT) AS width,
        |       CAST(16 + CAST(concat('0x', substr(checksum, 5, 4)) AS BIGINT) % 2144 AS BIGINT) AS height,
        |       CAST(CASE WHEN kind = 'video/mp4'
        |            THEN 1 + CAST(concat('0x', substr(checksum, 9, 4)) AS BIGINT) % 600
        |            ELSE 1 END AS BIGINT) AS n_frames
        |FROM m""".stripMargin,

      "mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image/png' ELSE 'video/mp4' END AS kind,
        |         md5(text) AS checksum
        |  FROM documents
        |  WHERE doc_id % 3 IN (0, 2)),
        |d AS (
        |  SELECT media_id, kind,
        |         16 + CAST(concat('0x', substr(checksum, 1, 4)) AS BIGINT) % 4080 AS width,
        |         16 + CAST(concat('0x', substr(checksum, 5, 4)) AS BIGINT) % 2144 AS height
        |  FROM m)
        |SELECT media_id, kind, width, height,
        |       CASE WHEN greatest(width, height) > 512
        |            THEN CAST(floor(width * 512 / greatest(width, height)) AS BIGINT)
        |            ELSE width END AS target_w,
        |       CASE WHEN greatest(width, height) > 512
        |            THEN CAST(floor(height * 512 / greatest(width, height)) AS BIGINT)
        |            ELSE height END AS target_h,
        |       greatest(width, height) > 512 AS resized
        |FROM d""".stripMargin,

      "mm_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS checksum
        |  FROM documents
        |  WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id,
        |         1 + CAST(concat('0x', substr(checksum, 9, 4)) AS BIGINT) % 600 AS n_frames
        |  FROM m)
        |SELECT media_id, unnest(range(0, n_frames, 10)) AS frame_no FROM f""".stripMargin,

      // the oracle knows the PNG dimensions a priori (they are id-derived);
      // the engine must recover them by actually decoding the encoded bytes
      "mm_png_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(16 + doc_id % 64 AS BIGINT) AS width,
        |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
        |FROM documents""".stripMargin,

      "mm_image_decode" ->
      """SELECT doc_id AS media_id,
        |       'image/' || CASE CAST(doc_id % 4 AS INT)
        |         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |         WHEN 2 THEN 'gif' ELSE 'bmp' END AS kind,
        |       CAST(16 + doc_id % 64 AS BIGINT) AS width,
        |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
        |FROM documents""".stripMargin,

      // id-derived animated-GIF facts — only a real multi-image decode
      // (header dims + image-block walk for the frame count) reproduces them
      "mm_gif_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |         CAST(16 + doc_id % 32 AS BIGINT) AS width,
        |         CAST(16 + (doc_id * 5) % 24 AS BIGINT) AS height,
        |         CAST(1 + doc_id % 7 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT media_id, width, height, n_frames,
        |       unnest(range(0, n_frames, 2)) AS frame_no
        |FROM f""".stripMargin,

      // id-derived MJPEG-AVI facts — container walk + per-frame JPEG decode
      "mm_avi_frames" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |         CAST(16 + doc_id % 48 AS BIGINT) AS width,
        |         CAST(16 + (doc_id * 3) % 32 AS BIGINT) AS height,
        |         CAST(1 + doc_id % 6 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT media_id, width, height, n_frames,
        |       unnest(range(0, n_frames, 2)) AS frame_no,
        |       width AS frame_w, height AS frame_h
        |FROM f""".stripMargin,

      // designed perceptual hashes as pure id arithmetic — only a real
      // pixel decode + 9×8 box-average reproduces them from the PNG bytes
      "dedup_image_hash" -> (duckDhashCte + """
        |SELECT id AS media_id, dhash FROM h""".stripMargin),

      // the pair oracle verifies ALL Hamming<=3 pairs directly; the banded
      // engine relation equals it exactly by the 4x16 pigeonhole bound
      "dedup_image" -> (duckDhashCte + """
        |SELECT a.id AS id1, b.id AS id2,
        |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

      // designed spectral fingerprints — same a-priori bit arithmetic as
      // the image leg; only a real PCM decode + FFT reproduces them
      "dedup_audio_fp" -> (duckDhashCte + """
        |SELECT id AS media_id, dhash AS fp FROM h""".stripMargin),

      "dedup_audio" -> (duckDhashCte + """
        |SELECT a.id AS id1, b.id AS id2,
        |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

      // designed clip fingerprints — the majority over identical designed
      // frames is the designed hash; n_sampled = the id-derived frame count
      "dedup_video_fp" -> (duckDhashCte + """
        |SELECT id AS media_id, dhash AS fp,
        |       CAST(1 + id % 3 AS BIGINT) AS n_sampled
        |FROM h""".stripMargin),

      "dedup_video" -> (duckDhashCte + """
        |SELECT a.id AS id1, b.id AS id2,
        |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin),

      // id-derived WAV header facts — only a real RIFF parse reproduces them
      "mm_audio_decode" ->
      """SELECT doc_id AS media_id,
        |       CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(500 + (doc_id * 13) % 2000 AS BIGINT) AS n_frames,
        |       round((500 + (doc_id * 13) % 2000) * 1000.0 /
        |             (8000 + (doc_id % 8) * 1000), 3) AS duration_ms
        |FROM documents""".stripMargin,

      "ann_topk" -> duckAnnTopkSql,

      "ann_quantized" -> duckAnnQuantizedSql,

      "ann_lsh" -> duckAnnLshSql,

      "ann_ivf" -> duckAnnIvfSql,

      // √n-auto-stride IVF: the oracle recomputes the identical stride
      // (round(sqrt(|corpus|))) and probes np=8 lists
      "ann_ivf_auto" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |st AS (SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS every FROM e),
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
        |          FROM n, st WHERE vec_id % every = 0),
        |asg AS (
        |  SELECT vec_id, v, nrm, c_id FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
        |           row_number() OVER (PARTITION BY n.vec_id
        |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM n CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
        |probes AS (
        |  SELECT q_id, qv, qnrm, c_id FROM (
        |    SELECT q.q_id, q.qv, q.qnrm, c.c_id,
        |           row_number() OVER (PARTITION BY q.q_id
        |             ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM q CROSS JOIN cents c) t
        |  WHERE rn <= 8),
        |s AS (
        |  SELECT q_id, a.vec_id AS neighbor,
        |         round(list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm), 6) AS cos
        |  FROM probes p JOIN asg a USING (c_id)
        |  WHERE a.vec_id <> p.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
        |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin,

      // identical oracle — the streamed index content equals the batch
      // assignment for any slicing (row-local given the fixed quantizer)
      "stream_ann" -> duckAnnIvfSql,

      "ann_graph" -> duckAnnGraphSql,

      // triangles over the replayed kNN graph: canonical unordered pairs,
      // ascending-orientation enumeration, corner explode
      "graph_triangles" -> (s"""WITH $duckAnnGraphCte,
        |gm AS MATERIALIZED (SELECT vec_id AS src, neighbor AS dst FROM g$duckAnnGraphIters),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM gm WHERE src <> dst),
        |tri AS MATERIALIZED (
        |  SELECT a.u AS x, a.v AS y, b.v AS z
        |  FROM und a JOIN und b ON a.v = b.u JOIN und c ON c.u = a.u AND c.v = b.v),
        |corners AS (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT id AS vec_id, count(*) AS n_tri
        |FROM corners GROUP BY id""".stripMargin),

      // PageRank rounds unrolled over the replayed kNN graph; `gm`
      // materializes the expensive graph chain so the per-round references
      // cannot re-inline it
      "ann_pagerank" -> (s"""WITH $duckAnnGraphCte,
        |gm AS MATERIALIZED (SELECT vec_id AS src, neighbor AS dst FROM g$duckAnnGraphIters),
        |odeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM gm GROUP BY 1),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM gm
        |        UNION SELECT DISTINCT dst FROM gm),
        |pr0 AS MATERIALIZED (SELECT id, 1.0 AS r FROM nodes),
        |${(1 to 3).map(t => s"""
        |pr$t AS MATERIALIZED (
        |  SELECT n.id, round(0.15 + 0.85 * COALESCE(c.s, 0.0), 10) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT gm.dst AS id, sum(p.r / odeg.outdeg) AS s
        |    FROM gm JOIN odeg ON gm.src = odeg.src
        |            JOIN pr${t - 1} p ON gm.src = p.id
        |    GROUP BY 1) c ON n.id = c.id)""").mkString(",")}
        |SELECT id, round(r, 6) AS pagerank FROM pr3""".stripMargin),

      "ann_graph_search" -> duckGraphSearchSql,

      // JL projection replayed coordinate-for-coordinate through the same
      // literal matrix
      "embed_project" ->
      s"""WITH $duckRpProjCte
         |SELECT vec_id, CAST(j AS BIGINT) AS j, p FROM pj""".stripMargin,

      "ann_rp" -> duckRpTopkSql,

      "contamination_embed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE vec_id % 97 <> 0),
        |b AS (SELECT vec_id AS bench_id, v AS bv, sqrt(list_dot_product(v, v)) AS bnrm
        |      FROM e WHERE vec_id % 97 = 0)
        |SELECT vec_id, bench_id,
        |       round(list_dot_product(v, bv) / (nrm * bnrm), 6) AS cos
        |FROM c CROSS JOIN b
        |WHERE round(list_dot_product(v, bv) / (nrm * bnrm), 6) >= 0.3""".stripMargin,

      // recall measured against the SAME four gated pipelines, embedded as
      // subqueries so the recall oracle can never drift from the per-method
      // oracles above
      "ann_recall" ->
      s"""WITH exact AS (SELECT q_id, neighbor FROM ($duckAnnTopkSql) x),
         |ivf_r AS (SELECT q_id, neighbor FROM ($duckAnnIvfSql) x),
         |lsh_r AS (SELECT q_id, neighbor FROM ($duckAnnLshSql) x),
         |qz_r AS (SELECT q_id, neighbor FROM ($duckAnnQuantizedSql) x),
         |tot AS (SELECT count(*) AS total FROM exact),
         |hits AS (
         |  SELECT 'ivf' AS method, count(*) AS hits
         |  FROM ivf_r JOIN exact USING (q_id, neighbor)
         |  UNION ALL
         |  SELECT 'lsh', count(*) FROM lsh_r JOIN exact USING (q_id, neighbor)
         |  UNION ALL
         |  SELECT 'quantized', count(*) FROM qz_r JOIN exact USING (q_id, neighbor))
         |SELECT method, hits, total, round(hits * 1.0 / total, 6) AS recall
         |FROM hits CROSS JOIN tot""".stripMargin,

      "ann_kmeans" -> duckKmeansSql,

      "dedup_semantic" -> duckSemanticSql,

      "ann_pq" -> duckPqSql,

      "ann_pq_rerank" -> duckPqRerankSql,

      // corpus-vs-corpus top-1 within shared IVF lists: same centroid/assign
      // CTEs as ann_ivf, pair space from the list self-join
      "ann_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 0),
        |asg AS (
        |  SELECT vec_id, v, nrm, c_id FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
        |           row_number() OVER (PARTITION BY n.vec_id
        |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM n CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |s AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
        |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM asg a JOIN asg b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rk FROM s)
        |SELECT vec_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 1""".stripMargin,

      "dedup_embed" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2, CAST(a.label AS BIGINT) AS block,
        |       round(list_dot_product(a.v, b.v)
        |             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35""".stripMargin,

      // mirrors the operator's hot-shingle cap: candidate pairs from
      // shingles with doc-frequency ≤ 0.05·|docs|, Jaccard over full sets
      "dedup_ngram" ->
      """WITH
        |t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
        |    FROM t) u
        |  WHERE len(string_split(sh, ' ')) = 3)
        |,
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |cap AS (SELECT count(*) * 0.05 AS cap FROM documents),
        |rare AS (
        |  SELECT s.id, s.sh FROM sh s
        |  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) f ON s.sh = f.sh
        |  CROSS JOIN cap WHERE f.df <= cap.cap),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.id < b.id),
        |inter AS (
        |  SELECT c.id1, c.id2, count(*) AS i
        |  FROM sh x JOIN cand c ON x.id = c.id1
        |  JOIN sh y ON y.id = c.id2 AND x.sh = y.sh
        |  GROUP BY 1, 2),
        |jacs AS (
        |  SELECT id1, id2,
        |         round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jac
        |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)
        |
        |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin,

      "dedup_containment" ->
      """WITH
        |t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
        |    FROM t) u
        |  WHERE len(string_split(sh, ' ')) = 3)
        |,
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |cap AS (SELECT count(*) * 0.05 AS cap FROM documents),
        |rare AS (
        |  SELECT s.id, s.sh FROM sh s
        |  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) f ON s.sh = f.sh
        |  CROSS JOIN cap WHERE f.df <= cap.cap),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.id < b.id),
        |inter AS (
        |  SELECT c.id1, c.id2, count(*) AS i
        |  FROM sh x JOIN cand c ON x.id = c.id1
        |  JOIN sh y ON y.id = c.id2 AND x.sh = y.sh
        |  GROUP BY 1, 2),
        |conts AS (
        |  SELECT id1, id2, CAST(least(s1.sz, s2.sz) AS BIGINT) AS small_sz,
        |         round(CAST(i AS DOUBLE) / least(s1.sz, s2.sz), 6) AS containment
        |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)
        |
        |SELECT id1, id2, small_sz, containment FROM conts WHERE containment >= 0.5""".stripMargin,

      "dedup_minhash" -> ("WITH " + duckMinhashCte +
        """
          |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin),

      // same band candidates, Levenshtein-verified (relative bound 0.4);
      // unreferenced CTEs of the shared prefix are pruned by the planner
      "dedup_editdist" -> ("WITH " + duckMinhashCte +
        """,
          |txt AS (SELECT doc_id AS id, text FROM documents),
          |p AS (
          |  SELECT id1, id2, levenshtein(a.text, b.text) AS d,
          |         greatest(len(a.text), len(b.text)) AS l
          |  FROM cand JOIN txt a ON a.id = id1 JOIN txt b ON b.id = id2)
          |SELECT id1, id2, CAST(d AS BIGINT) AS dist,
          |       round(CAST(d AS DOUBLE) / l, 6) AS rel
          |FROM p WHERE d <= l * 0.4""".stripMargin),

      // same oracle as dedup_minhash — the streaming pair set equals the
      // batch one by construction (pair emits when its later member arrives)
      "stream_minhash" -> ("WITH " + duckMinhashCte +
        """
          |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin),

      // cross-corpus probe: the all-pairs CTE filtered to cross-parity
      // pairs, normalized to (corpus id, incoming id) — the band collisions
      // found by corpus x incoming probing are exactly the cross-parity
      // subset of the triangular join
      "dedup_against" -> ("WITH " + duckMinhashCte +
        """
          |SELECT CASE WHEN id1 % 2 = 0 THEN id1 ELSE id2 END AS id1,
          |       CASE WHEN id1 % 2 = 0 THEN id2 ELSE id1 END AS id2, jac
          |FROM jacs WHERE jac >= 0.3 AND (id1 % 2) <> (id2 % 2)""".stripMargin),

      // connected components over the minhash near-dup pairs: min reachable
      // id per node via a recursive CTE (mirrors Dedup.components' min-label
      // propagation fixpoint)
      "dedup_components" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """
          |SELECT id AS doc_id, comp FROM labels""".stripMargin),

      // same recursive components CTE; survivors = corpus minus docs whose
      // cluster label differs from their own id
      "dedup_survivors" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)""".stripMargin),

      // quality-aware representative: per component the highest composite
      // score (id ascending on ties) survives; everyone else drops
      "dedup_survivors_scored" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """,
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS qtoks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM documents
          |), qsc AS (
          |  SELECT doc_id,
          |         round(least(len(qtoks) / 20.0, 1.0) * 0.4
          |           + least((CAST(len(list_filter(qtoks, w -> list_contains(
          |               ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |               / greatest(len(qtoks), 1)) * 5.0, 1.0) * 0.3
          |           + (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10.0, 1.0)) * 0.3,
          |           6) AS s
          |  FROM qt
          |), mem AS (
          |  SELECT l.id, l.comp, q.s FROM labels l JOIN qsc q ON q.doc_id = l.id
          |), win AS (
          |  SELECT comp, id FROM (
          |    SELECT comp, id,
          |           row_number() OVER (PARTITION BY comp ORDER BY s DESC, id) AS rk
          |    FROM mem) x WHERE rk = 1
          |), losers AS (
          |  SELECT id FROM mem WHERE id NOT IN (SELECT id FROM win))
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin),

      // survivors (minhash components) ∩ quality floor ∖ contaminated ∖
      // the benchmark slice itself. Contamination is computed over the full
      // pool rather than survivors only — the extra rows are dropped by the
      // survivor intersection, so the final set is identical
      "corpus_curation" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id, len(toks) AS n_tokens,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND d.id % 97 <> 0 AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c)
          |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
          |FROM qs
          |WHERE quality_score >= 0.45
          |  AND doc_id % 97 <> 0
          |  AND doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin),

      // same CTE chain as corpus_curation, reduced to per-stage counts
      "curation_report" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |qual AS (SELECT doc_id FROM qs WHERE quality_score >= 0.45),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c),
          |fin AS (SELECT doc_id FROM qual WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          |n0 AS (SELECT count(*) AS n FROM documents),
          |n1 AS (SELECT count(*) AS n FROM surv),
          |n2 AS (SELECT count(*) AS n FROM qual),
          |n3 AS (SELECT count(*) AS n FROM fin)
          |SELECT 'input' AS stage, CAST(0 AS BIGINT) AS n_dropped,
          |       CAST(n AS BIGINT) AS n_remaining FROM n0
          |UNION ALL SELECT 'dedup', CAST((SELECT n FROM n0) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n1
          |UNION ALL SELECT 'quality', CAST((SELECT n FROM n1) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n2
          |UNION ALL SELECT 'decontaminate', CAST((SELECT n FROM n2) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n3""".stripMargin),

      // the corpus_curation oracle's curated set, packed by the same
      // integer window arithmetic as the pack_sequences oracle
      "curation_packed" -> ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id, len(toks) AS n_tokens,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND d.id % 97 <> 0 AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c),
          |cur AS (
          |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
          |  FROM qs
          |  WHERE quality_score >= 0.45
          |    AND doc_id % 97 <> 0
          |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
          |p AS (
          |  SELECT doc_id, n_tokens,
          |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
          |  FROM cur)
          |SELECT doc_id, tok_start,
          |       tok_start // 1024 AS seq_id,
          |       tok_start % 1024 AS seq_offset,
          |       (tok_start + GREATEST(n_tokens, 1) - 1) // 1024 - tok_start // 1024 + 1 AS spans
          |FROM p""".stripMargin)
    )
}
