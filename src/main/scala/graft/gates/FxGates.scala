package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Candles, Correlations, Ranking, Rolling}
import graft.sources.Tables

/** The reference FX pipeline: ticks → gap-filled OHLC candles →
  * log-returns → indicators and sliding all-pairs Pearson correlation.
  */
object FxGates {

  /** events → ticks → full candle pipeline (gap-fill + OHLC + carry-forward),
    * flattened to the reference's `SimpleAggTester` projection.
    */
  private[graft] def fxCandles(s: SparkSession, dir: String): DataFrame = {
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
  private[gates] val duckCandleCte: String =
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
  private[gates] val duckCorrCte: String =
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
  private[gates] val duckCorrTopkSql: String = duckCandleCte + duckCorrCte +
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

  val gates: Seq[Gate] = Seq(
    // G1/G2: the synthetic gap ticks themselves.
    Gate("fx_gapfill", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      Candles.gapFill(ticks, "1 hour").select(col("key"), col("ts"))
    },
      """WITH tw AS (
        |  SELECT 'U' || CAST(user_id AS VARCHAR) AS key,
        |         time_bucket(INTERVAL '1 hour', ts) AS ws
        |  FROM events
        |), wins AS (SELECT DISTINCT ws FROM tw),
        |keys AS (SELECT DISTINCT key FROM tw)
        |SELECT k.key, w.ws + INTERVAL '1 hour' - INTERVAL '1 millisecond' AS ts
        |FROM wins w CROSS JOIN keys k
        |WHERE NOT EXISTS (SELECT 1 FROM tw t WHERE t.key = k.key AND t.ws = w.ws)""".stripMargin),

    // Flagship: full candle pipeline (A1+A2+A3+G1-G3+W1+P1+P2).
    Gate("fx_candles", (s, dir) => fxCandles(s, dir),
      (duckCandleCte +
        """
          |SELECT key, closeTime, openStateTime, closeStateTime,
          |       minAskPrice, maxAskPrice, minBidPrice, maxBidPrice, isLive
          |FROM candles""".stripMargin)),

    // P3: log-return projection off the candle pipeline.
    Gate("fx_returns", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
        .filter(col("ret").isNotNull)
        .select(col("key"), col("ts"), round(col("ret"), 9).as("ret"))
    },
      (duckCandleCte +
        """
          |SELECT key, closeTime AS ts,
          |       round(ln(closeAsk / openAsk), 9) AS ret
          |FROM candles
          |WHERE closeAsk > 0 AND openAsk > 0""".stripMargin)),

    // Multi-resolution rollup: 6 h candles re-aggregated from the 1 h
    // candles (OHLC-of-OHLC — the resample path that never re-reads ticks).
    Gate("fx_candles_6h", (s, dir) => {
      Candles.rollUp(fxCandles(s, dir), "6 hours")
        .select(col("key"), col("closeTime"), col("openStateTime"),
          col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
          col("minBidPrice"), col("maxBidPrice"), col("isLive"))
    },
      (duckCandleCte +
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
          |GROUP BY key, time_bucket(INTERVAL '6 hours', closeTime)""".stripMargin)),

    // Linear-interpolation gap fill — the alternative fill policy to the
    // reference's carry-forward: synthetic closes interpolated between
    // neighboring live closes; trailing gaps carry, leading gaps null.
    Gate("fx_interp", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      // +1e-9 before rounding on BOTH sides: interpolated prices land
      // exactly on .xxxxxx5 halves, where Spark (HALF_UP) and DuckDB
      // (nearbyint, half-to-even) disagree; the nudge moves halves off the
      // boundary identically in both engines.
      Candles.interpolate(candles)
        .select(col("key"), col("closeTime"), col("isLive"),
          round(col("askInterp") + lit(1e-9), 6).as("askInterp"),
          round(col("bidInterp") + lit(1e-9), 6).as("bidInterp"))
    },
      (duckCandleCte +
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
          |FROM nbrs""".stripMargin)),

    // Rolling 4-candle stats (moving average / rolling volatility) over
    // the carry-forward close — the indicator layer above the candle
    // pipeline (operators.Rolling).
    Gate("fx_rolling", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.stats(candles, "key", "closeTime", col("close.askPrice"), 4)
        .select(col("key"), col("closeTime"), col("roll_n"),
          round(col("roll_avg"), 6).as("roll_avg"),
          round(col("roll_min"), 6).as("roll_min"),
          round(col("roll_max"), 6).as("roll_max"),
          round(col("roll_std"), 6).as("roll_std"))
    },
      (duckCandleCte +
        """
          |SELECT key, closeTime,
          |       count(closeAsk) OVER w AS roll_n,
          |       round(avg(closeAsk) OVER w, 6) AS roll_avg,
          |       round(min(closeAsk) OVER w, 6) AS roll_min,
          |       round(max(closeAsk) OVER w, 6) AS roll_max,
          |       round(stddev_samp(closeAsk) OVER w, 6) AS roll_std
          |FROM candles
          |WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // Drawdown of the carry-forward close vs its running peak per key.
    Gate("fx_drawdown", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.drawdown(candles, "key", "closeTime", col("close.askPrice"))
        .select(col("key"), col("closeTime"),
          round(col("drawdown"), 6).as("drawdown"))
    },
      (duckCandleCte +
        """
          |SELECT key, closeTime,
          |       round(CASE WHEN closeAsk IS NOT NULL
          |                   AND max(closeAsk) OVER w <> 0
          |                  THEN closeAsk / max(closeAsk) OVER w - 1 END, 6)
          |         AS drawdown
          |FROM candles
          |WINDOW w AS (PARTITION BY key ORDER BY closeTime
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // EWMA smoothing of the carry-forward close: alpha = 0.8 over the
    // trailing 10 candles, finite-history normalization.
    Gate("fx_ewma", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      // pre-filter null closes (leading pre-live candles): Spark's
      // collect_list skips nulls but DuckDB's list() keeps them — filter
      // BEFORE windowing so both engines see identical frames
      Rolling.ewma(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime", col("close.askPrice"), n = 10, alpha = 0.8)
        .select(col("key"), col("closeTime"),
          round(col("ewma"), 6).as("ewma"))
    },
      (duckCandleCte +
        """, lw AS (
          |  SELECT key, closeTime,
          |         list(closeAsk) OVER (PARTITION BY key ORDER BY closeTime
          |           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS xs
          |  FROM candles WHERE closeAsk IS NOT NULL)
          |SELECT key, closeTime,
          |       round(list_sum(list_transform(range(len(xs)),
          |               i -> xs[i + 1] * 0.8 ** (len(xs) - 1 - i)))
          |             / ((1 - 0.8 ** len(xs)) / (1 - 0.8)), 6) AS ewma
          |FROM lw""".stripMargin)),

    // RSI (Wilder, period 14) over the carry-forward close: delta split →
    // Wilder-smoothed gains/losses → 100 − 100/(1+RS); bounded history.
    Gate("fx_rsi", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.rsi(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime", col("close.askPrice"))
        .select(col("key"), col("closeTime"), round(col("rsi"), 6).as("rsi"))
    },
      // Wilder decay written as the same double Spark computes (13.0/14)
      (duckCandleCte +
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
          |FROM d2""".stripMargin)),

    // Stochastic oscillator (14/3) over the OHLC candles: close position
    // inside the trailing high–low band + SMA smoothing; degenerate
    // carry-forward bands emit null.
    Gate("fx_stochastic", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.stochastic(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime",
          col("maxAsk.askPrice"), col("minAsk.askPrice"),
          col("close.askPrice"))
        .select(col("key"), col("closeTime"),
          round(col("pct_k"), 6).as("pct_k"),
          round(col("pct_d"), 6).as("pct_d"))
    },
      (duckCandleCte +
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
          |FROM ks""".stripMargin)),

    // ATR (Wilder, SMA-14) over the OHLC candles — the volatility
    // indicator that needs high/low/prev-close, not just the close line.
    Gate("fx_atr", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.atr(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime",
          col("maxAsk.askPrice"), col("minAsk.askPrice"),
          col("close.askPrice"))
        .select(col("key"), col("closeTime"),
          round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr"))
    },
      (duckCandleCte +
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
          |FROM trs""".stripMargin)),

    // Bollinger bands (20, 2σ) over the carry-forward close, with %B.
    Gate("fx_bollinger", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.bollinger(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime", col("close.askPrice"))
        .select(col("key"), col("closeTime"),
          round(col("bb_mid"), 6).as("bb_mid"),
          round(col("bb_lower"), 6).as("bb_lower"),
          round(col("bb_upper"), 6).as("bb_upper"),
          round(col("bb_pctb"), 6).as("bb_pctb"))
    },
      (duckCandleCte +
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
          |FROM b""".stripMargin)),

    // TWAP per (user, 6 h window): holding-time-weighted price vs the
    // naive tick average. Duplicate (key, ts) ticks pre-aggregated (max)
    // so holding spans are deterministic.
    Gate("fx_twap", (s, dir) => {
      val ticks = Tables(s, dir, "events")
        .groupBy(concat(lit("U"), col("user_id")).as("key"), col("ts"))
        .agg(max(col("value")).as("p"))
      Rolling.twap(ticks, "key", "ts", col("p"), "6 hours")
    },
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
        |FROM t2 GROUP BY key, ws""".stripMargin),

    // MACD (12/26/9) over the carry-forward close — the EWMA-composition
    // indicator family: fast/slow difference + signal line + histogram,
    // two window passes over one key partitioning. Bounded 30-candle
    // history so the indicator is engine-reproducible (infinite-history
    // MACD depends on stream start).
    Gate("fx_macd", (s, dir) => {
      val candles = Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour")
      Rolling.macd(candles.filter(col("close.askPrice").isNotNull),
          "key", "closeTime", col("close.askPrice"))
        .select(col("key"), col("closeTime"),
          round(col("macd"), 6).as("macd"),
          round(col("signal"), 6).as("signal"),
          round(col("hist"), 6).as("hist"))
    },
      // decay factors written as the same double expressions Spark computes
      // (11.0/13, 25.0/27, 8.0/10) so the smoothing constants are bit-equal.
      // Sub-epsilon clamp mirrors Rolling.macd: a fast−slow EWMA difference
      // on constant stretches is pure cancellation noise with engine-
      // dependent sign (0.0 vs -0.0 hash differently) — clamp |x| < 1e-9 to
      // exact 0.0 BEFORE the signal pass, same as the Spark side.
      (duckCandleCte +
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
          |FROM m5""".stripMargin)),

    // Lead–lag cross-correlation: corr(A's return at t, B's at t+1h) per
    // ORDERED pair over the whole series — the directional complement of
    // fx_corr; alignment is one ts-shifted equi-join, pairs exist only
    // inside the join's codegen stage.
    Gate("fx_corr_lagged", (s, dir) => {
      val rets = Correlations.logReturns(
        Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
      Correlations.laggedCorrelate(rets, lag = "1 hour", minPoints = 8)
    },
      (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0)
          |SELECT a.key AS lead_key, b.key AS lag_key,
          |       round(corr(a.ret, b.ret), 6) AS lag_corr, count(*) AS n
          |FROM rets a JOIN rets b
          |  ON b.ts = a.ts + INTERVAL '1 hour' AND a.key <> b.key
          |GROUP BY 1, 2
          |HAVING count(*) >= 8 AND corr(a.ret, b.ret) IS NOT NULL""".stripMargin)),

    // Historical VaR(5%) + expected shortfall per key over the
    // log-returns — exact interpolated quantile, tail membership against
    // the 6dp-rounded cut so ES is engine-exact.
    Gate("fx_var", (s, dir) => {
      val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        .filter(col("ret").isNotNull)
      Rolling.varES(rets, "key", col("ret"), q = 0.05, minPoints = 20)
    },
      (duckCandleCte +
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
          |GROUP BY r.key, c.var_q, c.n""".stripMargin)),

    // Lag-1h autocorrelation per key — the mean-reversion/momentum
    // diagnostic; the diagonal of the lead–lag join, keyed on (key, ts).
    Gate("fx_autocorr", (s, dir) => {
      val rets = Correlations.logReturns(
        Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
      Correlations.autoCorrelate(rets, lag = "1 hour", minPoints = 8)
    },
      (duckCandleCte +
        """, rets AS (
          |  SELECT key, closeTime AS ts, ln(closeAsk / openAsk) AS ret
          |  FROM candles WHERE closeAsk > 0 AND openAsk > 0)
          |SELECT a.key, round(corr(a.ret, b.ret), 6) AS acf, count(*) AS n
          |FROM rets a JOIN rets b
          |  ON b.key = a.key AND b.ts = a.ts + INTERVAL '1 hour'
          |GROUP BY 1
          |HAVING count(*) >= 8 AND corr(a.ret, b.ret) IS NOT NULL""".stripMargin)),

    // Per-key beta/alpha/r² against the lexicographically-first key's
    // series — OLS via cov/var on one broadcast ts-join.
    Gate("fx_beta", (s, dir) => {
      val rets = Correlations.logReturns(
        Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
      Correlations.betaToReference(rets, minPoints = 8)
    },
      (duckCandleCte +
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
          |   AND regr_slope(r.ret, f.ref_ret) IS NOT NULL""".stripMargin)),

    // Pairs-trading spread z-score vs the reference series: cumulative
    // aligned return difference (= log price ratio), z-scored per key —
    // mean-reversion signal. Broadcast reference + per-key prefix-sum
    // window; zero-variance spreads filtered, never divided by.
    Gate("fx_spread", (s, dir) => {
      val rets = Correlations.logReturns(
        Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
      Correlations.spreadZScore(rets, minPoints = 8)
    },
      (duckCandleCte +
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
          |WHERE st.n >= 8 AND st.sd > 0""".stripMargin)),

    // CUSUM changepoint statistics over the LOG-RETURNS (drift-in-mean
    // detection, the standard formulation): the sequential recurrence
    // rewritten as prefix-sum minus running extremum — three shared-sort
    // windows, no per-key scan. Returns (≈1e-4) rather than price levels
    // (≈1e3) keep the cross-engine prefix-sum FP noise orders below the
    // 6-dp rounding boundary.
    Gate("fx_cusum", (s, dir) => {
      val rets = Correlations.logReturns(
          Candles.aggregate(Tables.eventsAsTicks(s, dir), "1 hour"))
        .filter(col("ret").isNotNull)
      Rolling.cusum(rets, "key", "ts", col("ret"), h = 3.0)
        .select(col("key"), col("ts"), col("cusum_up"),
          col("cusum_dn"), col("changed"))
    },
      (duckCandleCte +
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
          |FROM c""".stripMargin)),

    // The SHARED indicator pipeline: candles derived once, the whole
    // family (rolling stats / EWMA / MACD+signal+hist / RSI / Bollinger)
    // fanned out over one key partitioning — one exchange, one sort,
    // chained window operators. The per-indicator gates each pay the
    // candle re-derivation (~7 s at sf0.1) by gate-independence; this is
    // the plan a real user runs and its cost shows the honest ~1-2 s
    // marginal price per indicator.
    Gate("fx_indicators", (s, dir) => {
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
    },
      // combined mirror of the five indicator oracles over one filtered
      // relation; the RSI chain keeps its own filtered CTEs (DuckDB list()
      // keeps the first row's null delta, Spark's collect_list skips it)
      // and left-joins back so the first row carries rsi NULL
      (duckCandleCte +
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
          |FROM m3 LEFT JOIN rz ON rz.key = m3.key AND rz.closeTime = m3.closeTime""".stripMargin)),

    // C1+P5+J5+W2: sliding-window all-pairs Pearson, θ = 0.5, NaN dropped.
    // The gate thresholds on the ROUNDED value so exact-0.5 correlations
    // (common at small n) can't flip inclusion on cross-engine FP noise.
    // minCorr = 0.4999 is a RAW prefilter strictly below the 0.4999995
    // round-to-6 cutoff, run inside the pair join's codegen stage so the
    // BigDecimal-backed round() sees candidates only (JFR r15: rounding
    // every raw pair was ~15% of the gate CPU as jdk dtoa/BigDecimal) —
    // the exact rounded-0.5 threshold below is unchanged, and the
    // streaming twins have always run this same prefilter against the
    // SAME oracle (stream_corr, its replayBatch call).
    Gate("fx_corr", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
          "6 hours", "3 hours", minCorr = 0.4999)
        .withColumn("r", round(col("corr"), 6))
        .filter(abs(col("r")) >= 0.5)
        .select(col("windowStart").as("wstart"), col("key1"), col("key2"),
          col("pair"), col("r"), col("n"),
          col("xCount").cast("long").as("xCount"),
          col("yCount").cast("long").as("yCount"))
    },
      (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key1, key2, pair,
          |       round(greatest(-1.0, least(1.0, r0)), 6) AS r, n,
          |       xCount, yCount
          |FROM pairc
          |WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
          |  AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin)),

    // J1 side output: per-(window, key) distributed point counts
    // (`DistributeWorkDataDoFn.java:76-78`).
    Gate("fx_point_counts", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      val returns = Correlations.logReturns(Candles.aggregate(ticks, "1 hour"))
      Correlations.pointCounts(returns, "6 hours", "3 hours")
        .select(col("windowStart").as("wstart"), col("key"), col("n_points"))
    },
      (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key, cnt AS n_points FROM cnts""".stripMargin)),

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
    Gate("fx_corr_underlying", (s, dir) => {
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
    },
      // underlying series replayed from slid (the same per-(window, key)
      // points the packets carry), one row per array element; idx mirrors
      // posexplode's 0-based position in ts order
      duckUnderlyingSql),

    // P5 normalized variant: the fact/dimension split — slim pair rows +
    // the packet relation emitted once per (window, key). The gate joins
    // the dimension back onto each pair side and must reproduce the
    // denormalized payload EXACTLY (same oracle as fx_corr_underlying),
    // proving the split loses nothing while array bytes stay linear in
    // |packets| instead of quadratic in pairs.
    Gate("fx_corr_underlying_norm", (s, dir) => {
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
    },
      // the normalized twin reconstructs the identical payload — one oracle
      duckUnderlyingSql),

    // P5 NaN policy: propagateNaN ⇒ value := 1.0, isNaN = true
    // (`ComputeCorrelationsDoFn.java:188-193`).
    Gate("fx_corr_nan", (s, dir) => {
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
    },
      (duckCandleCte + duckCorrCte +
        """
          |SELECT wstart, key1, key2,
          |       CASE WHEN r0 IS NULL OR isnan(r0)
          |            THEN 1.0
          |            ELSE round(greatest(-1.0, least(1.0, r0)), 6) END AS r,
          |       n,
          |       (r0 IS NULL OR isnan(r0)) AS isNaN
          |FROM pairs
          |WHERE r0 IS NULL OR isnan(r0)
          |   OR abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin)),

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
    Gate("fx_corr_topk", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
          "6 hours", "3 hours", minCorr = 0.4999)
        .withColumn("r", round(col("corr"), 6))
        .filter(abs(col("r")) >= 0.5)
      Correlations.topPartnersPacked(corr, k = 3,
        expr("cast(substring(key1, 2) as bigint)"),
        expr("cast(substring(key2, 2) as bigint)"),
        id => concat(lit("U"), id.cast("string")))
    },
      // top-3 partners per (window, key) among live pairs clearing
      // |r| >= 0.5 (NaN pairs pruned, as fx_corr): rank on the ROUNDED
      // value; ties break on the NUMERIC partner id ascending (the packed
      // total order the engine aggregates on)
      duckCorrTopkSql),

    // STRING-keyed packed top-k: the fx_corr_topk pipeline with partner
    // ranking through a REAL dictionary (Ranking.dictionaryIds over the
    // tick universe) instead of the keys' numeric suffix — the id
    // contract the packed aggregate documents ("at scale a dictionary
    // id"), exercised end to end: encode joins, packed rank (ties now
    // partner-string ascending), decode joins, 2^40 guard composed with
    // dictionary output.
    Gate("fx_corr_topk_dict", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      val corr = Correlations.fromCandles(Candles.aggregate(ticks, "1 hour"),
          "6 hours", "3 hours", minCorr = 0.4999)
        .withColumn("r", round(col("corr"), 6))
        .filter(abs(col("r")) >= 0.5)
      Correlations.topPartnersPackedDict(corr, k = 3,
        Ranking.dictionaryIds(ticks, "key"))
    },
      duckCorrTopkDictSql),

    // Bounded underlying payload: the production form of the reference's
    // includeUnderlying (ComputeCorrelationsDoFn.java:197-200) — the full
    // emission attaches both series to EVERY pair clearing θ (array bytes
    // quadratic in live keys, the measured g-exp 1.47 of the
    // fx_corr_underlying gates); here arrays attach only to each key's
    // top-3 partner edges, so payload volume is O(windows·keys·k·series)
    // at any correlation density. Slim pairs + packed top-k + ONE
    // dimension join; exploded to scalar rows for the oracle like the
    // unbounded gates.
    Gate("fx_corr_underlying_topk", (s, dir) => {
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
    },
      // the bounded-payload twin: fx_corr_topk's edge set with each side's
      // underlying series re-joined from slid (as the unbounded
      // fx_corr_underlying oracle does for every pair)
      (duckCandleCte + duckCorrCte +
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
          |FROM sides""".stripMargin))
  )
}
