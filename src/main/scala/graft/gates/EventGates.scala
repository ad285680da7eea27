package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Behavior, Cdc, Profiling, RangeJoin, Ranking, Sketches}
import graft.sources.Tables

import Gate.reg

/** Event-stream gates over the `events` table: event-time windows,
  * behavioral analytics, CDC and SCD-2, as-of and interval joins,
  * features, profiling, sketches, constraints and drift.
  */
object EventGates {

  private[gates] val duckRollingActiveSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
      |roll AS (
      |  SELECT d.day, count(DISTINCT u.user_id) AS active
      |  FROM dau d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      |  GROUP BY d.day)
      |SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, r.active
      |FROM dau d JOIN roll r USING (day)""".stripMargin

  private[gates] val duckSeasonalitySql: String =
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

  /** Market-basket co-occurrence with lift (ev_cooccurrence + its
    * streaming twin). */
  private[gates] val duckCooccurrenceSql: String =
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
  private[gates] val duckTrendingSql: String =
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

  /** All same-user (click, purchase) pairs with the purchase inside the
    * 60-minute horizon — shared by the batch gate and its stream-stream
    * join twin (replay union equals the batch join row-for-row).
    */
  private[gates] val duckAttributionSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 60 MINUTE""".stripMargin

  /** Left-outer variant: every click, null-extended when unconverted. */
  private[gates] val duckAttributionOuterSql: String =
    """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
      |     p AS (SELECT * FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM c LEFT JOIN p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 60 MINUTE""".stripMargin

  /** PSI replay: clamp-binning, eps-guarded fractions, (p−q)·ln(p/q)
    * contributions, every float rounded at 6 dp. Shared by the batch
    * drift gate and its ingest twin (bin counts merge associatively).
    */
  private[gates] val duckDriftSql: String =
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

  /** Gaps-and-islands form of a 30-minute session window over `events` —
    * the oracle for both the batch (`ev_session`) and streaming
    * (`stream_session`) gates, which are bit-identical by construction.
    */
  private[gates] val duckSessionSql: String =
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
  private[gates] val duckFunnelSql: String =
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

  /** Sliding 12 h / 6 h window counts — the oracle for `ev_sliding` and
    * its streaming twin `stream_sliding`, equal by construction.
    */
  private[gates] val duckSlidingSql: String =
    """SELECT wstart, event_type, n,
      |       CAST((cents * 20000 + n) // (n * 2) AS BIGINT) AS avg_micro
      |FROM (SELECT time_bucket(INTERVAL '6 hours', ts)
      |               - k * INTERVAL '6 hours' AS wstart,
      |             event_type, count(*) AS n,
      |             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      |      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) ks
      |      GROUP BY 1, 2)""".stripMargin

  /** Latest-wins changelog snapshot — the oracle for `cdc_snapshot`, the
    * incremental merge `cdc_incremental` and the streaming twins
    * `stream_cdc`/`stream_cdc_late`, which must all equal it.
    */
  private[gates] val duckSnapshotSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rk
      |  FROM events)
      |SELECT user_id, event_type AS last_type,
      |       round(value, 4) AS last_value
      |FROM r WHERE rk = 1 AND event_type <> 'error'""".stripMargin

  /** SCD-2 validity intervals — the oracle for `cdc_scd2` and its
    * streaming twin `stream_scd2`.
    */
  private[gates] val duckScd2Sql: String =
    """WITH o AS (
      |  SELECT user_id, ts AS valid_from, event_type, value,
      |         lead(ts) OVER (PARTITION BY user_id
      |                        ORDER BY ts, event_id) AS valid_to
      |  FROM events)
      |SELECT user_id, valid_from, valid_to, valid_to IS NULL AS is_current,
      |       event_type AS etype, round(value, 4) AS val
      |FROM o WHERE event_type <> 'error'""".stripMargin

  /** Cohort retention — the oracle for `ev_retention` and its streaming
    * twin `stream_retention`.
    */
  private[gates] val duckRetentionSql: String =
    """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |           FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
      |SELECT f.cohort_day,
      |       CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
      |         AS day_offset,
      |       count(*) AS n_users
      |FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2""".stripMargin

  /** Event-type transition probabilities — the oracle for
    * `ev_transitions` and its streaming twin `stream_transitions`.
    */
  private[gates] val duckTransitionsSql: String =
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
      |FROM m""".stripMargin

  /** Cumulative distinct users — the oracle for `ev_cumulative` and its
    * streaming twin `stream_cumulative`.
    */
  private[gates] val duckCumulativeSql: String =
    """WITH f AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events
      |  GROUP BY 1),
      |d AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
      |SELECT day, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS cum_users
      |FROM d""".stripMargin

  /** Inter-arrival gap summary — the oracle for `ev_interarrival` and its
    * streaming twin `stream_interarrival`.
    */
  private[gates] val duckInterarrivalSql: String =
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
      |FROM d GROUP BY event_type""".stripMargin

  /** Gaps-and-islands session ids (30-minute inactivity gap) over
    * `events` — the `d`/`g` CTEs the `range_join` and `interval_join`
    * oracles both build their session intervals from.
    */
  private val duckSessionIdsCte: String =
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
      |)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Tumbling event-time window aggregation (W1) on the events stream table.
    Gate("ev_tumbling", (s, dir) => {
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
    },
      """SELECT wstart, event_type, n, round(cents / 100.0, 4) AS sum_v,
        |       CAST((cents * 20000 + n) // (n * 2) AS BIGINT) AS avg_micro
        |FROM (SELECT time_bucket(INTERVAL '6 hours', ts) AS wstart,
        |             event_type, count(*) AS n,
        |             sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |      FROM events GROUP BY 1, 2)""".stripMargin),

    // Sliding event-time window aggregation (W2): 12 h window every 6 h.
    Gate("ev_sliding", (s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "12 hours", "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("__cents"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"),
          expr(graft.streaming.StreamingAgg.avgMicroExpr).as("avg_micro"))
    },
      duckSlidingSql),

    // Session windows (30 min inactivity gap) per user — free in Spark,
    // gaps-and-islands in the oracle.
    Gate("ev_session", (s, dir) => {
      Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n"), col("sum_v"))
    },
      duckSessionSql),

    // General point-in-interval join via bucket binning (equi-join +
    // residual, never a nested loop): events range-joined back into
    // their session intervals; counts must equal the session operator's.
    Gate("range_join", (s, dir) => {
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
    },
      // independent theta-join formulation: the binned equi-join must
      // reproduce exact interval containment
      duckSessionIdsCte + """, sess AS (
        |  SELECT user_id, min(ts) AS session_start,
        |         max(ts) + INTERVAL '30 minutes' AS session_end
        |  FROM g GROUP BY user_id, sid)
        |SELECT s.user_id, s.session_start, s.session_end, count(*) AS n_in
        |FROM sess s JOIN events e
        |  ON e.user_id = s.user_id
        | AND e.ts >= s.session_start AND e.ts < s.session_end
        |GROUP BY 1, 2, 3""".stripMargin),

    // Ordered conversion funnel view→click→purchase: stage i counts only
    // at-or-after the user reached stage i−1. One shuffle (see Behavior).
    Gate("ev_funnel", (s, dir) => {
      Behavior.funnel(Tables(s, dir, "events"),
        Seq("view", "click", "purchase"))
    },
      // sequential conditional-min formulation of the ordered funnel — the
      // textbook SQL shape the one-shuffle array walk re-expresses
      duckFunnelSql),

    // Cohort retention: first-active-day cohorts × active-day offsets.
    Gate("ev_retention", (s, dir) => {
      Behavior.retention(Tables(s, dir, "events"))
    },
      duckRetentionSql),

    // Cohort anomaly flags: |z| >= 2 vs the (type, hour) window stats —
    // one hash agg + one equi-join back, never a per-type serial window.
    // (The synthetic values are near-uniform — max cohort |z| ~2.4 — so
    // the 3-sigma default would flag nothing at any SF; 2.0 keeps the
    // gate non-vacuous while the operator default stays 3.0.)
    Gate("ev_anomaly", (s, dir) => {
      Behavior.anomalies(Tables(s, dir, "events"), minZ = 2.0)
    },
      """WITH w AS (
        |  SELECT *, time_bucket(INTERVAL '1 hour', ts) AS ws FROM events),
        |s AS (
        |  SELECT event_type, ws, avg(value) AS mu, stddev(value) AS sd
        |  FROM w GROUP BY 1, 2 HAVING stddev(value) > 0)
        |SELECT w.event_id, w.event_type, w.ts, w.value,
        |       round((w.value - s.mu) / s.sd, 6) AS z
        |FROM w JOIN s ON w.event_type = s.event_type AND w.ws = s.ws
        |WHERE abs(round((w.value - s.mu) / s.sd, 6)) >= 2.0""".stripMargin),

    // Hour-of-week seasonality: load z-scored per type against its own
    // 168-slot distribution — the traffic-shape baseline (ev_anomaly
    // z-scores values; this profiles WHEN).
    Gate("ev_seasonality", (s, dir) => {
      Behavior.seasonality(Tables(s, dir, "events"))
        .select(col("event_type"), col("how").cast("long").as("how"),
          col("n"), col("z"))
    },
      duckSeasonalitySql),

    // JSON metadata profiling: numeric field `k` inside the opaque
    // `props` column, per event type — codegen'd path extraction, no UDF.
    Gate("ev_props", (s, dir) => {
      Behavior.propsStats(Tables(s, dir, "events"))
    },
      // regex extraction instead of JSON functions: core-only DuckDB
      """WITH p AS (
        |  SELECT event_type,
        |         CAST(NULLIF(regexp_extract(props, '"k":\s*(-?\d+)', 1),
        |                     '') AS BIGINT) AS v
        |  FROM events)
        |SELECT event_type, count(v) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
        |       round(avg(v), 6) AS avg_v, min(v) AS min_v, max(v) AS max_v
        |FROM p GROUP BY 1""".stripMargin),

    // Equi-depth quantile binning (k=10) of the value column — the
    // feature-discretization prep stage: exact interpolated deciles via
    // one percentile aggregate, 1-row edge broadcast, row-local
    // assignment; value-based (engine-stable), never ntile.
    Gate("feature_bins", (s, dir) => {
      Profiling.equiDepthBins(Tables(s, dir, "events"), "event_id",
        "value", k = 10)
    },
      """WITH e AS (
        |  SELECT list_transform(
        |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 6)) AS edges
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_id, value,
        |       CAST(len(list_filter(e.edges, x -> value > x)) AS BIGINT) AS bin
        |FROM events, e WHERE value IS NOT NULL""".stripMargin),

    // Exact binary-classifier AUC (tie-corrected Mann–Whitney): scores
    // collapse to one row per DISTINCT value first, the rank base comes
    // from the two-level distributed prefix sum, the statistic folds in
    // one scalar agg — no single-task sort anywhere. Labels: purchase
    // events against value as the score.
    Gate("ev_auc", (s, dir) => {
      Ranking.binaryAuc(Tables(s, dir, "events"), col("value"),
        col("event_type") === "purchase")
    },
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
        |FROM a""".stripMargin),

    // Per-segment AUC: does value separate weekend from weekday traffic,
    // per event type — the sliced-evaluation view. Grouped two-level
    // prefix sum; each segment's serial chain is its partition span.
    Gate("ev_auc_by_type", (s, dir) => {
      Ranking.groupedAuc(
        Tables(s, dir, "events").withColumn("is_weekend",
          dayofweek(col("ts")).isin(1, 7)),
        "event_type", col("value"), col("is_weekend"))
    },
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
        |FROM a""".stripMargin),

    // Threshold-sweep confusion matrix (precision/recall at five cuts):
    // one row-local binning pass + one hash agg to |edges|+1 rows; the
    // per-threshold totals are suffix sums over that tiny relation —
    // the fact never re-shuffles per threshold.
    Gate("ev_confusion", (s, dir) => {
      Ranking.confusionSweep(Tables(s, dir, "events"), col("value"),
        col("event_type") === "purchase",
        edges = Seq(10.0, 50.0, 100.0, 250.0, 400.0))
    },
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
        |FROM m""".stripMargin),

    // Group-mean null imputation: the synthetic table has no nulls, so
    // the query PUNCHES deterministic holes first (every 7th event_id),
    // then fills them from the per-type mean of the surviving values —
    // DuckDB replays the same hole pattern. One group agg + join back;
    // was_null keeps the missingness signal.
    Gate("feature_impute", (s, dir) => {
      val holed = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(7)) =!= 0, col("value"))
            .as("value"))
      Profiling.imputeMean(holed, Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), col("was_null"))
    },
      """WITH h AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_id % 7 <> 0 THEN value END AS value
        |  FROM events),
        |m AS (SELECT event_type, avg(value) AS gmean
        |      FROM h GROUP BY 1)
        |SELECT h.event_id, h.event_type,
        |       round(coalesce(h.value, m.gmean), 6) AS value,
        |       h.value IS NULL AS was_null
        |FROM h JOIN m ON h.event_type = m.event_type""".stripMargin),

    // Smoothed target encoding of event_type against value: one hash
    // agg to the |categories| relation + a 1-row global-mean broadcast —
    // the dimension-sized encoder table a 100 TB fact then broadcast-
    // joins for the feature column.
    Gate("feature_target_encode", (s, dir) => {
      Profiling.targetEncode(Tables(s, dir, "events"), "event_type",
        "value", smoothing = 10.0)
    },
      """WITH g AS (SELECT avg(value) AS gmean
        |           FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS n, sum(value) AS s
        |      FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |       round((s + 10.0 * gmean) / (n + 10.0), 6) AS encoded
        |FROM c CROSS JOIN g""".stripMargin),

    // Referential-integrity audit across three FK relations (the third
    // dimension is deliberately filtered to negative-free balances so
    // the orphan counter is provably non-vacuous): per relation one
    // broadcast left join folded into a single-row conditional agg.
    Gate("constraints_fk", (s, dir) => {
      Profiling.referentialAudit(Seq(
        ("li_orderkey", Tables(s, dir, "lineitem"), "l_orderkey",
          Tables(s, dir, "orders"), "o_orderkey"),
        ("li_partkey", Tables(s, dir, "lineitem"), "l_partkey",
          Tables(s, dir, "part"), "p_partkey"),
        ("ord_custkey_posbal", Tables(s, dir, "orders"), "o_custkey",
          Tables(s, dir, "customer").filter(col("c_acctbal") >= 0),
          "c_custkey")))
    },
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
        |  ON o_custkey = c.c_custkey""".stripMargin),

    // Snapshot DIFF between the day-16 CDC compaction and the final one:
    // full-outer join on the snapshot key emitting ONLY churned keys
    // (added / deleted / changed) — diff output scales with the churn,
    // never the table.
    Gate("cdc_diff", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      def snap(d: DataFrame) =
        Cdc.latestSnapshot(d, Seq("user_id"), col("ts"), col("event_id"),
          col("event_type") === "error",
          Seq("etype" -> col("event_type"),
            "val4" -> round(col("value"), 4)))
      Cdc.snapshotDiff(snap(ev.filter(col("ts") < cut)), snap(ev),
        Seq("user_id"), Seq("etype", "val4"))
    },
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
        |WHERE change IS NOT NULL""".stripMargin),

    // First-order Markov transitions over per-user event sequences:
    // lead() on one user-shuffle, then the |types|² count matrix with
    // row-normalized probabilities.
    Gate("ev_transitions", (s, dir) => {
      Behavior.transitions(Tables(s, dir, "events"))
    },
      duckTransitionsSql),

    // Top-20 3-step event paths — sequence mining above the bigram
    // matrix; two leads on one user sort, |types|³-bounded rank relation.
    Gate("ev_paths", (s, dir) => {
      Behavior.topPaths(Tables(s, dir, "events"), k = 20)
    },
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
        |SELECT s1, s2, s3, n, rk FROM r WHERE rk <= 20""".stripMargin),

    // Cumulative distinct users by day — first-sight + prefix sum, the
    // scale form of a growing count(distinct): the running total windows
    // over the DAYS relation, never the events.
    Gate("ev_cumulative", (s, dir) => {
      Behavior.cumulativeUsers(Tables(s, dir, "events"))
    },
      duckCumulativeSql),

    // Funnel TIMING: per-user first-occurrence timestamps per stage, then
    // mean time-to-convert across adjacent stages — the latency
    // complement to ev_funnel's conversion counts. One hash agg to a
    // |users|-row relation; the stage deltas are projections over it.
    Gate("ev_funnel_time", (s, dir) => {
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
    },
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
        |FROM f WHERE t_purchase >= t_click""".stripMargin),

    // Rolling 7-day distinct active users next to each day's DAU — the
    // engagement ratio surface; rolling distinct via the contribution
    // explode over the deduplicated (day, user) relation.
    Gate("ev_rolling_active", (s, dir) => {
      Behavior.rollingActive(Tables(s, dir, "events"))
    },
      duckRollingActiveSql),

    // CDC latest-wins snapshot: events as a per-user changelog (ts order,
    // event_id tie-break, 'error' = delete marker) compacted to current
    // state — ONE max_by agg with map-side partials, never a window.
    Gate("cdc_snapshot", (s, dir) => {
      Cdc.latestSnapshot(Tables(s, dir, "events"), Seq("user_id"),
        col("ts"), col("event_id"), col("event_type") === "error",
        Seq("last_type" -> col("event_type"),
          "last_value" -> round(col("value"), 4)))
    },
      // latest-wins changelog compaction: the window formulation the
      // one-shuffle max_by hash agg re-expresses
      duckSnapshotSql),

    // CDC SCD-2 history: every upsert versioned with its validity
    // interval; a delete closes the prior version and emits nothing.
    Gate("cdc_scd2", (s, dir) => {
      Cdc.scd2(Tables(s, dir, "events"), Seq("user_id"),
        col("ts"), col("event_id"), col("event_type") === "error",
        Seq("etype" -> col("event_type"),
          "val" -> round(col("value"), 4)))
    },
      // SCD-2 validity intervals: lead() over the full changelog (deletes
      // close the prior version, then drop out)
      duckScd2Sql),

    // Point-in-time enrichment: each purchase joins the SCD-2 profile
    // version valid AT its timestamp; purchases inside a tombstoned
    // interval stay unmatched (the semantics an as-of join can't give).
    Gate("temporal_join", (s, dir) => {
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
    },
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
        | AND (d.valid_to IS NULL OR f.ts < d.valid_to)""".stripMargin),

    // Incremental CDC merge: snapshot the first half of the changelog,
    // apply the second half as a batch — must equal the one-shot
    // snapshot exactly (tombstones block stale resurrections).
    Gate("cdc_incremental", (s, dir) => {
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
    },
      // identical oracle — merge(snapshot(first half), second half) must
      // equal the one-shot compaction (max-associativity + tombstones)
      duckSnapshotSql),

    // Interval×interval OVERLAP join via the same bucket binning as
    // range_join — concurrent sessions across user pairs; each
    // overlapping pair emitted exactly once (first shared bucket).
    Gate("interval_join", (s, dir) => {
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
    },
      // interval-overlap pairs: plain inequality self-join over the same
      // session CTE — the theta form the binned equi-join re-expresses
      duckSessionIdsCte + """, sess AS (
        |  SELECT user_id, min(ts) AS s,
        |         max(ts) + INTERVAL '30 minutes' AS e
        |  FROM g GROUP BY user_id, sid)
        |SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_overlap
        |FROM sess a JOIN sess b
        |  ON a.user_id < b.user_id AND a.s < b.e AND b.s < a.e
        |GROUP BY 1, 2""".stripMargin),

    // Click→purchase attribution pairs: all same-user pairs with the
    // purchase inside a 60-minute horizon — one equi-join shuffle on the
    // user key, range predicate post-join.
    Gate("ev_attribution", (s, dir) => {
      Behavior.attribution(Tables(s, dir, "events"), horizonMin = 60)
    },
      duckAttributionSql),

    // Linear multi-touch attribution: each conversion's credit splits
    // 1/k over the clicks in its horizon; per-click rollup. Same
    // interval join as ev_attribution + two hash aggs — never a
    // per-conversion sort.
    Gate("ev_attribution_multi", (s, dir) => {
      Behavior.multiTouchAttribution(Tables(s, dir, "events"),
        horizonMin = 60)
    },
      s"""WITH t AS ($duckAttributionSql),
         |k AS (SELECT purchase_id, count(*) AS kk FROM t GROUP BY 1)
         |SELECT t.click_id, t.user_id,
         |       count(*) AS n_conversions,
         |       round(sum(1.0 / kk), 6) AS credit
         |FROM t JOIN k ON t.purchase_id = k.purchase_id
         |GROUP BY t.click_id, t.user_id""".stripMargin),

    // Market-basket co-occurrence with lift over per-user type sets:
    // distinct-(user,item) pre-collapse, per-user a<b self-join (output
    // bounded by items-per-user², never catalog²), broadcast margins.
    Gate("ev_cooccurrence", (s, dir) => {
      Behavior.cooccurrence(Tables(s, dir, "events"))
    },
      duckCooccurrenceSql),

    // Trending: top-3 event types per 6 h tumbling window — the rank
    // runs over the |windows|×|types| aggregate, never the events.
    Gate("ev_trending", (s, dir) => {
      val counts = Tables(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w")).orderBy(col("n").desc, col("event_type"))
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("w.start").as("wstart"), col("event_type"),
          col("n"), col("rnk").cast("long").as("rnk"))
    },
      duckTrendingSql),

    // Left-outer attribution: unconverted clicks kept with null purchase
    // columns — the abandoned-intent relation.
    Gate("ev_attribution_outer", (s, dir) => {
      Behavior.attribution(Tables(s, dir, "events"), horizonMin = 60,
        joinType = "left_outer")
    },
      duckAttributionOuterSql),

    // As-of (backward) join: each purchase event matched to the user's
    // latest view event at-or-before it. A missing Spark operator composed
    // from one window sort — no pair materialization (operators.AsOfJoin).
    Gate("asof_join", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("key"), col("ts"), col("value"))
      AsOfJoin.backward(purchases, views, rightPrefix = "view_")
        .select(col("event_id"), col("key").as("user_id"), col("ts"),
          col("value"), col("view_ts"), col("view_value"))
    },
      // right side pre-deduped per (user, ts) with max(value) — mirrors the
      // operator's deterministic greatest-payload tie rule
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS view_ts, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin),

    // Forward as-of join: each purchase matched to the user's EARLIEST
    // view at-or-after it (same single-exchange window-carry as backward,
    // scanned from the future).
    Gate("asof_forward", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("key"), col("ts"), col("value"))
      AsOfJoin.forward(purchases, views, rightPrefix = "view_")
        .select(col("event_id"), col("key").as("user_id"), col("ts"),
          col("value"), col("view_ts"), col("view_value"))
    },
      // forward variant: DuckDB ASOF with <= picks the earliest at-or-after
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |       v.ts AS view_ts, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
        |  ON p.user_id = v.user_id AND p.ts <= v.ts""".stripMargin),

    // Bounded-staleness as-of join: same backward pick, but matches older
    // than 2 hours are nulled — the tolerance knob every as-of consumer
    // needs (a quote from last week shouldn't price today's trade).
    Gate("asof_tolerance", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("key"), col("ts"), col("value"))
      AsOfJoin.backward(purchases, views, rightPrefix = "view_",
          tolerance = Some("2 hours"))
        .select(col("event_id"), col("key").as("user_id"), col("ts"),
          col("value"), col("view_ts"), col("view_value"))
    },
      // tolerance mirror: match survives only if at most 2 hours stale
      """SELECT p.event_id, p.user_id, p.ts, p.value,
        |       CASE WHEN p.ts <= v.ts + INTERVAL '2 hours' THEN v.ts END AS view_ts,
        |       CASE WHEN p.ts <= v.ts + INTERVAL '2 hours' THEN v.value END AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, max(value) AS value
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts) v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin),

    // Nearest as-of join: the closer of the backward and forward matches
    // (backward wins exact ties) — both carries run over ONE exchange.
    Gate("asof_nearest", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), col("ts"), col("event_id"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("key"), col("ts"), col("value"))
      AsOfJoin.nearest(purchases, views, rightPrefix = "view_")
        .select(col("event_id"), col("key").as("user_id"), col("ts"),
          col("value"), col("view_ts"), col("view_value"))
    },
      // nearer of the two ASOF picks per purchase (event_id is unique, so
      // the backward and forward results join 1:1); backward wins ties
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
        |FROM b JOIN f USING (event_id)""".stripMargin),

    // Sketch profiles — the 100 TB scale path for q_distinct_agg /
    // q_percentile-class questions: HLL distincts + mergeable quantile
    // summaries, one map-side-partial hash agg, fixed-size state. The
    // gate runs the *Checked forms: exact facts (count, micro-unit sum)
    // both engines replay bit-identically, plus Spark-computed `*_ok`
    // booleans pinning each estimate inside its error contract. The
    // oracle asserts the booleans TRUE — estimates themselves are
    // engine-specific and never hashed. Production path stays
    // eventProfile/docProfile (SketchesSpec pins those too).
    Gate("sketch_events", (s, dir) => {
      Sketches.eventProfileChecked(Tables(s, dir, "events"))
    },
      // sketch contract gates: the oracle replays the EXACT facts (count;
      // micro-unit sum whose terms are rounded to exact longs before the
      // fold, so both engines sum identical integers in any order) and
      // asserts every Spark-computed within-bound boolean TRUE. A hash
      // match proves the HLL/quantile estimates landed inside their
      // contract without hashing the engine-specific estimates.
      """SELECT event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
        |         AS sum_value_micro,
        |       TRUE AS users_ok, TRUE AS props_ok,
        |       TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
        |FROM events GROUP BY event_type""".stripMargin,
      Some(Twin.Production((s, dir) =>
        Sketches.eventProfile(Tables(s, dir, "events"))))),

    Gate("sketch_docs", (s, dir) => {
      Sketches.docProfileChecked(Tables(s, dir, "documents"))
    },
      """WITH t AS (
        |  SELECT lang,
        |         len(list_filter(string_split(lower(text), ' '),
        |             x -> len(x) > 0)) AS n_toks
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |       TRUE AS vocab_ok, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM t GROUP BY lang""".stripMargin,
      Some(Twin.Production((s, dir) =>
        Sketches.docProfile(Tables(s, dir, "documents"))))),

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
    // so this gate is an explicit pair, not a Gate.sql.
    Gate("ev_interarrival", (s, dir) => {
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
    },
      duckInterarrivalSql),

    // K-ANONYMITY audit: group sizes over a quasi-identifier tuple
    // (segment, nation, balance-bucket) — rows in groups smaller than
    // k = 5 are re-identifiable and must be suppressed or generalized
    // before release. Two hash aggregations, both on compact relations:
    // the quasi-group counts (bounded by the quasi-domain product) and
    // the per-segment rollup.
    Gate("privacy_kanon", (s, dir) => {
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
    },
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
        |FROM g GROUP BY 1""".stripMargin),

    Gate("profile_events", (s, dir) => {
      Profiling.tableProfile(Tables(s, dir, "events"),
        Seq("user_id", "event_type", "value", "props"))
    },
      // per-column profile facts, one SELECT per column UNION'd — the
      // engine-agnostic form of the single-scan stack unpivot
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
        |       count(DISTINCT props), NULL, NULL FROM events""".stripMargin),

    // Constraint SUGGESTION loop: learn the contract on the even-id
    // half (profile → suggested suite), enforce it on the odd-id half —
    // suggested uniqueness/null-freedom hold; the learned value range
    // genuinely fails on unseen extremes, exercising the red path.
    Gate("constraints_suggested", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val suite = Profiling.suggestConstraints(Profiling.tableProfile(
        ev.filter(col("event_id") % 2 === 0),
        Seq("event_id", "user_id", "event_type", "value")))
      Profiling.checkConstraints(ev.filter(col("event_id") % 2 === 1), suite)
    },
      // suggestion replay: learn per-column facts on the even half, emit
      // (not_null | unique | in_range) candidates under the same rules,
      // verify the survivors on the odd half
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
        |FROM cand WHERE suggested""".stripMargin),

    // PSI distribution drift: does purchase value mass sit where view
    // value mass sits? Two |bins|-row aggs + spine join — the
    // pre-retraining drift check, per-bucket evidence included.
    Gate("drift_events", (s, dir) => {
      val ev = Tables(s, dir, "events")
      Profiling.psiDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "value", 0.0, 500.0, bins = 20)
    },
      // PSI replay: same clamp-binning, eps-guarded fractions and
      // (p-q)·ln(p/q) contributions, every float rounded at 6 dp
      duckDriftSql),

    // Segment-level drift: PSI per event_type between the even- and
    // odd-id halves — a shift hidden inside one segment is not averaged
    // away by the aggregate distribution.
    Gate("drift_by_type", (s, dir) => {
      val ev = Tables(s, dir, "events")
      Profiling.psiDriftByGroup(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "event_type", "value", 0.0, 500.0, bins = 10)
    },
      // segmented PSI: group×bin spine from the distinct-type relation,
      // per-group totals as partitioned window sums
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
        |FROM f""".stripMargin),

    // Exact two-sample KS drift — the binless complement to PSI: exact
    // per-distinct-value counts, CDFs via the two-level prefix sum
    // (range partition + per-partition offsets), sup-diff with a
    // deterministic argmax. One row out.
    Gate("drift_ks", (s, dir) => {
      val ev = Tables(s, dir, "events")
      Profiling.ksDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1), "value")
    },
      // exact KS: cumulative long counts divide once at the end, so the
      // doubles (and the sup's argmax) are engine-identical
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
        |       (SELECT n_cur FROM tot) AS n_cur""".stripMargin),

    // Categorical association audit: full lang × source contingency grid
    // (zero cells included) with expected counts and chi-square
    // contributions under independence.
    Gate("profile_assoc", (s, dir) => {
      Profiling.chiSquare(Tables(s, dir, "documents"), "lang", "source")
    },
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
        |FROM grid""".stripMargin),

    // Declarative constraint suite in the SAME single scan: the
    // admission-gate verdict relation. The range/set constraints are
    // deliberately violated by the data (value ≤ 50; 3-type vocabulary)
    // so the counting path is exercised, not just the zero case.
    Gate("constraints_events", (s, dir) => {
      Profiling.checkConstraints(Tables(s, dir, "events"), Seq(
        Profiling.NotNull("user_id"),
        Profiling.Unique("event_id"),
        Profiling.InRange("value", 0.0, 50.0),
        Profiling.InSet("event_type", Seq("click", "view", "purchase"))))
    },
      // one scalar SELECT per constraint, UNION'd — violation counters
      // mirror the operator's null policy (only not_null counts nulls)
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
        |           THEN 1 ELSE 0 END) = 0 FROM events""".stripMargin)
  )
}
