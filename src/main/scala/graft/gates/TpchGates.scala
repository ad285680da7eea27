package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Tables

/** Relational gates: TPC-H query shapes and SQL idioms (windows, set
  * operations, grouping sets, pivots, skewed joins) over the TPC-H tables.
  */
object TpchGates {

  val gates: Seq[Gate] = Seq(
    // A1-style grouped aggregation (TPC-H Q1 shape): hash agg w/ partial combine.
    Gate.sql("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2)                            AS sum_qty,
        |       round(sum(l_extendedprice), 2)                       AS sum_base,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
        |       round(avg(l_quantity), 6)                            AS avg_qty,
        |       round(avg(l_discount), 6)                            AS avg_disc,
        |       count(*)                                             AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Multi-way join + agg + deterministic top-k (TPC-H Q3 shape).
    Gate.sql("q3_shipping_priority",
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
        |LIMIT 10""".stripMargin),

    // Five-way dim join through region (TPC-H Q5 shape; broadcast-able dims).
    Gate.sql("q5_local_volume",
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // TPC-H Q10 shape: returned-item revenue — fact-fact join narrowed by a
    // selective date window, dim joins broadcast, deterministic top-20.
    Gate.sql("q10_returned_items",
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
        |LIMIT 20""".stripMargin),

    // TPC-H Q18 shape: large-volume orders — the aggregate semi-join
    // (HAVING subquery) feeding a 3-way join, deterministic top-20.
    Gate.sql("q18_large_orders",
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
        |LIMIT 20""".stripMargin),

    // Ordered analytic window functions per partition (R3 sorts; lag like A3).
    Gate.sql("q_window_rank",
      """SELECT o_custkey, o_orderkey, rn,
        |       round(prev_total, 2) AS prev_total
        |FROM (
        |  SELECT o_custkey, o_orderkey,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_orderdate, o_orderkey) AS rn,
        |         lag(o_totalprice) OVER (PARTITION BY o_custkey
        |                                 ORDER BY o_orderdate, o_orderkey) AS prev_total
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin),

    // Anti join (gap-fill's A2 set-difference shape on relational data):
    // parts never shipped in bulk (no lineitem with quantity > 45).
    Gate.sql("q_anti_join",
      """SELECT p_partkey, p_brand
        |FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_quantity > 45)
        |ORDER BY p_partkey""".stripMargin),

    // Semi join: customers having at least one open order.
    Gate.sql("q_semi_join",
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin),

    // TPC-H Q2 shape: min-cost supplier — the correlated scalar-subquery
    // join (cost equals the part's own minimum), decorrelated by Catalyst
    // into an aggregate + self-join; unit costs derive from lineitem since
    // this schema carries no partsupp. FP-safe: both sides select the min
    // over the SAME division results, so the equality is exact.
    Gate.sql("q2_min_cost_supplier",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey, p.p_brand, ps.l_suppkey AS s_suppkey,
        |       round(ps.cost, 6) AS cost
        |FROM part p JOIN ps ON ps.l_partkey = p.p_partkey
        |WHERE p.p_size <= 5
        |  AND ps.cost = (SELECT min(ps2.cost) FROM ps ps2
        |                 WHERE ps2.l_partkey = p.p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // Time-RANGE window frame: per-customer trailing-30-day spend — the
    // frame is defined by the ORDER BY value (timestamp minus interval),
    // not a row count, so order-date ties share one frame. The event-time
    // analog of q_window_nav's row frames.
    Gate.sql("q_window_range",
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate
        |         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW),
        |         2) AS spend_30d
        |FROM orders
        |WHERE o_custkey <= 200""".stripMargin),

    // TPC-H Q4 shape: order-priority checking — an EXISTS semi join from
    // the order header into lineitem (returned lines stand in for the
    // commit/receipt-date predicate, which this schema doesn't carry),
    // grouped counts over a selective date window. The semi join is the
    // scale property: lineitem is never widened, only probed.
    Gate.sql("q4_order_priority",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // TPC-H Q6 shape: forecasting-revenue-change — the pure scan-filter-agg
    // plan; every predicate must reach the parquet scan (PushedFilters), no
    // join, one partial-agg exchange collapsing to a single row.
    Gate.sql("q6_revenue_filter",
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // TPC-H Q7 shape: volume shipping between two nations — the same dim
    // table (nation) joined TWICE under different roles (supplier side vs
    // customer side), a disjunctive cross-nation predicate, and a
    // year-bucketed rollup. Both nation joins broadcast.
    Gate.sql("q7_volume_shipping",
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
        |ORDER BY supp_nation, cust_nation, yr""".stripMargin),

    // TPC-H Q8 shape: national market share — a 7-way join (fact widened by
    // part + supplier + two nation roles + region) feeding a conditional-
    // sum ratio per year. The CASE-inside-sum is the market-share kernel;
    // nullif guards the ANSI-mode division.
    Gate.sql("q8_market_share",
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
        |ORDER BY yr""".stripMargin),

    // TPC-H Q14 shape: promotion-effect ratio — a fact-dim join narrowed by
    // a one-month ship window, with the promo share computed as a
    // conditional-sum ratio in the post-agg projection.
    Gate.sql("q14_promo_revenue",
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |                              THEN l_extendedprice * (1 - l_discount)
        |                              ELSE 0 END)
        |             / nullif(sum(l_extendedprice * (1 - l_discount)), 0),
        |             4) AS promo_pct
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'""".stripMargin),

    // TPC-H Q15 shape: top supplier by quarterly revenue — the
    // view-then-max-equality pattern (ties all surface, no arbitrary
    // LIMIT 1); the revenue CTE evaluates once, its max joins back as an
    // uncorrelated scalar.
    Gate.sql("q15_top_supplier",
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
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q19 shape: discounted-revenue over an OR-of-ANDs predicate that
    // straddles the join (part attrs AND lineitem attrs in each disjunct).
    // The planner must still push the common join key and the per-side
    // domain bounds; the disjunction itself evaluates post-join.
    Gate.sql("q19_disjunctive",
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ROLLUP grouping sets (free via Catalyst; NULL-marked subtotal rows).
    Gate.sql("q_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin),

    // Fixed-width histogram: floor-binned distribution of order totals —
    // the profiling/quality-report primitive.
    Gate.sql("q_histogram",
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM orders
        |GROUP BY 1""".stripMargin),

    // Relational set operations: INTERSECT / EXCEPT / UNION with distinct
    // semantics over customer key sets.
    Gate.sql("q_set_ops",
      """WITH buyers AS (SELECT DISTINCT o_custkey AS k FROM orders),
        |rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000),
        |auto AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |SELECT 'rich_buyers' AS tag, k FROM (SELECT k FROM buyers INTERSECT SELECT k FROM rich) a
        |UNION ALL
        |SELECT 'rich_nonbuyers' AS tag, k FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers) b
        |UNION ALL
        |SELECT 'rich_or_auto' AS tag, k FROM (SELECT k FROM rich UNION SELECT k FROM auto) c""".stripMargin),

    // Analytic window functions beyond rank: lag/lead navigation, ntile
    // bucketing and percent_rank over per-customer order histories.
    Gate.sql("q_window_nav",
      """SELECT o_custkey, o_orderkey,
        |       lag(o_orderkey) OVER w        AS prev_order,
        |       lead(o_orderkey) OVER w       AS next_order,
        |       ntile(4) OVER w               AS quartile,
        |       round(percent_rank() OVER w, 6) AS pr
        |FROM orders
        |WHERE o_custkey <= 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin),

    // Full outer join: customers active only before/only after the split
    // date appear one-sided and coalesce to zero counts.
    Gate.sql("q_full_outer",
      """WITH a AS (
        |  SELECT o_custkey AS k, count(*) AS n1 FROM orders
        |  WHERE o_orderdate < DATE '1994-01-01' GROUP BY o_custkey),
        |b AS (
        |  SELECT o_custkey AS k, count(*) AS n2 FROM orders
        |  WHERE o_orderdate >= DATE '1994-01-01' GROUP BY o_custkey)
        |SELECT coalesce(a.k, b.k) AS custkey,
        |       coalesce(n1, 0) AS n_early,
        |       coalesce(n2, 0) AS n_late
        |FROM a FULL OUTER JOIN b ON a.k = b.k""".stripMargin),

    // Multi-dimensional aggregation via explicit grouping sets (the general
    // form ROLLUP/CUBE desugar to).
    Gate.sql("q_grouping_sets",
      """SELECT coalesce(l_linestatus, 'ALL') AS ls,
        |       coalesce(l_returnflag, 'ALL') AS rf,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_linestatus), (l_returnflag), (l_linestatus, l_returnflag))""".stripMargin),

    // CUBE: every grouping-set combination incl. the grand total (the third
    // of the ROLLUP/GROUPING SETS/CUBE family, same Catalyst Expand node).
    Gate.sql("q_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |       coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*)                      AS n,
        |       round(sum(l_quantity), 2)     AS qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin),

    // Exact distinct aggregation. avg_bal runs as an EXACT decimal sum
    // divided by the count, not avg(double): double summation order differs
    // between engines (Spark partial sums vs DuckDB sequential), and at
    // sparse scale factors the 4th-decimal round landed on the knife edge
    // (4190.83825 vs ...83835 → hash mismatch at sf0.001). Decimal sums are
    // exact in both engines, so the quotient (and its rounding) is
    // bit-identical at any scale.
    Gate.sql("q_distinct_agg",
      """SELECT c_mktsegment,
        |       count(DISTINCT c_nationkey) AS n_nations,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |             / count(c_acctbal), 4) AS avg_bal
        |FROM customer
        |GROUP BY c_mktsegment""".stripMargin),

    // Exact interpolated percentiles (ANSI WITHIN GROUP — ordered-set agg;
    // at scale swap for approx_percentile's t-digest sketch).
    Gate.sql("q_percentile",
      """SELECT l_returnflag,
        |       round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50,
        |       round(percentile_cont(0.95) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p95,
        |       round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag""".stripMargin),

    // RFM segmentation: per-customer recency/frequency/monetary quintiles
    // (ntile with key tie-breaks so the cut is engine-stable) rolled up to
    // segment populations — the classic customer-analytics shape. The
    // ntile windows sort the |customers|-row aggregate, never the orders
    // fact; at open cardinality the quintile boundaries would come from a
    // percentile sketch instead (the feature_bins path).
    Gate.sql("q_rfm",
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
        |GROUP BY r_score, f_score, m_score""".stripMargin),

    // Correlated scalar subquery + HAVING (decorrelated by Catalyst).
    Gate.sql("q_having_sub",
      """SELECT o_custkey, count(*) AS n_big
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |GROUP BY o_custkey
        |HAVING count(*) >= 8
        |ORDER BY o_custkey""".stripMargin),

    // L-DIVERSITY audit, k-anonymity's companion (privacy_kanon counts
    // small quasi-identifier groups; this counts how many DISTINCT
    // sensitive values each group carries — a k-anonymous group with one
    // segment still leaks it). Distribution of l over QI groups; two
    // dimension-sized hash aggs.
    Gate.sql("privacy_ldiv",
      """WITH g AS (
        |  SELECT c_nationkey,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb,
        |         count(*) AS n,
        |         count(DISTINCT c_mktsegment) AS l
        |  FROM customer GROUP BY 1, 2)
        |SELECT l, count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows
        |FROM g GROUP BY l
        |ORDER BY l""".stripMargin),

    // TPC-H Q9 shape: product-type profit — six-way star join where the
    // per-(part,supplier) unit cost is a DERIVED fact (min observed unit
    // price from lineitem; this schema carries no partsupp, same convention
    // as q2), re-joined against the fact it came from. The scale property:
    // the ps aggregate shuffles on (partkey,suppkey) once and the re-join
    // reuses that key; dims (supplier, nation, part filter) broadcast.
    Gate.sql("q9_product_profit",
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
        |ORDER BY nation, yr DESC""".stripMargin),

    // TPC-H Q11 shape: important stock — grouped value vs an uncorrelated
    // scalar subquery over the same derived-partsupp relation (broadcast
    // as one row). The verbatim FRACTION-of-total cut is SF-dependent
    // (TPC-H itself scales it 1/SF), so the cut here is 2× the average
    // share — the same plan, scale-free selectivity.
    Gate.sql("q11_important_stock",
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |v AS (SELECT l_partkey, sum(cost) AS val FROM ps GROUP BY 1)
        |SELECT l_partkey AS p_key, round(val, 2) AS value
        |FROM v
        |WHERE val > (SELECT 2.0 * avg(val) FROM v)
        |ORDER BY value DESC, p_key""".stripMargin),

    // TPC-H Q12 shape: shipping-mode priority mix — fact-fact join narrowed
    // by a ship-date year, conditional counts via CASE inside the aggregate
    // (map-side foldable). l_returnflag stands in for l_shipmode, the
    // urgent/non-urgent split is verbatim Q12.
    Gate.sql("q12_shipmode_priority",
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
        |ORDER BY l_returnflag""".stripMargin),

    // TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
    // with the filter in the ON clause (kept rows vs dropped predicate — the
    // outer-join semantics gate), then a distribution-of-counts re-aggregate.
    // Two shuffles total: custkey, then the |distinct counts|-row regroup.
    Gate.sql("q13_customer_distribution",
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q16 shape: supplier-relationship count — count(DISTINCT) per
    // group combined with a NOT IN anti-subquery (ANSI null-aware anti
    // join; the subquery side is provably non-null here, so it plans as a
    // plain anti join, never the null-checking BNL fallback).
    Gate.sql("q16_parts_suppliers",
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 5, 9, 13, 17)
        |  AND l_suppkey NOT IN
        |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // TPC-H Q17 shape: small-quantity-order revenue — the per-part
    // correlated aggregate threshold (quantity below 20% of the part's own
    // mean), decorrelated by Catalyst into an aggregate + re-join on
    // partkey. One row out; the interesting part is the plan.
    Gate.sql("q17_small_quantity",
      """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |       count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#11'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // TPC-H Q20 shape: potential part promotion — NESTED IN subqueries
    // (the inner one itself a join + aggregate threshold against a
    // per-part share), each planning as a semi join; suppliers who
    // shipped >30% of a promoted part's total quantity stand in for the
    // availqty-vs-half-of-sold predicate (no partsupp in this schema).
    Gate.sql("q20_part_promotion",
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
        |ORDER BY s_name""".stripMargin),

    // TPC-H Q21 shape: the sole-fault supplier — one EXISTS and one NOT
    // EXISTS against the same fact at different correlation predicates
    // (another supplier shipped the order; no other supplier's line was
    // returned). Both plan as semi/anti joins on l_orderkey — lineitem is
    // probed twice, widened never. Returnflag 'R' on finished orders stands
    // in for the receipt-after-commit lateness predicate.
    Gate.sql("q21_waiting_supplier",
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
        |ORDER BY numwait DESC, s_name""".stripMargin),

    // TPC-H Q22 shape: global sales opportunity — an uncorrelated scalar
    // average as the balance threshold (broadcast single row), an anti join
    // against orders (customers with no URGENT order — every customer here
    // has SOME order, so the verbatim no-orders predicate would be vacuous),
    // and a grouped rollup by a derived country code.
    Gate.sql("q22_sales_opportunity",
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
        |ORDER BY cntrycode""".stripMargin),

    // UNPIVOT/melt: wide numeric attributes into (key, attr, val) long
    // form — the feature-table reshape; `stack` is a row-local generator
    // (zero shuffle), the inverse of q_pivot.
    Gate("q_unpivot", (s, dir) => {
      Tables(s, dir, "part").selectExpr("p_partkey",
        "stack(2, 'size', CAST(p_size AS DOUBLE), 'retail', p_retailprice) AS (attr, val)")
    },
      """SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'retail' AS attr, p_retailprice AS val
        |FROM part""".stripMargin),

    // Pivot (long → wide reshaping): per-user average value by event
    // type. Explicit pivot values keep it to one pass (no distinct-scan
    // planning pre-pass); the oracle is conditional aggregation.
    Gate("q_pivot", (s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(avg(col("value")), 6))
    },
      """SELECT user_id,
        |       round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click,
        |       round(avg(CASE WHEN event_type = 'error' THEN value END), 6) AS error,
        |       round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
        |       round(avg(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup,
        |       round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS view
        |FROM events GROUP BY user_id""".stripMargin),

    // Hot-key salted join: event_type has a handful of distinct values,
    // so a shuffle join on it pins ~1/|types| of the table on one task —
    // the exact skew shape Skew.saltedJoin spreads. The shuffle_hash hint
    // forces the shuffled path (the tiny right side would broadcast and
    // never shuffle the left at this sf); the salt then fans each hot key
    // over `factor` tasks. Results are identical to the plain join — the
    // oracle is the unsalted SQL.
    Gate("q_skew_join", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val typeAvg = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("type_avg"))
      Skew.saltedJoin(ev, typeAvg.hint("shuffle_hash"),
          Seq("event_type"), factor = 8)
        .filter(col("value") > col("type_avg"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_above"),
          round(avg(col("value")), 6).as("avg_above"))
    },
      // the salted join is semantically the plain join — the oracle is the
      // unsalted SQL
      """SELECT e.event_type, count(*) AS n_above,
        |       round(avg(e.value), 6) AS avg_above
        |FROM events e
        |JOIN (SELECT event_type, avg(value) AS type_avg
        |      FROM events GROUP BY event_type) t
        |  ON e.event_type = t.event_type
        |WHERE e.value > t.type_avg
        |GROUP BY e.event_type""".stripMargin)
  )
}
