package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Tumbling-window OHLC candle aggregation with gap-fill and carry-forward.
  *
  * Re-expresses the reference's three-stage candle pipeline
  * (`CreateAggregatesTransform.java:63-156`) as declarative Spark:
  *
  *  1. gap-fill — synthesize one `isLive=false` tick at window max-timestamp
  *     for every (window, key) pair of the key universe with no live data
  *     (`DetectMissingTimeSeriesValuesCombiner.java:36-84`,
  *     `CreateMissingTimeSeriesValuesDoFn.java:35-60`) → here a
  *     windows×keys grid left-anti-joined against observed pairs;
  *  2. per-(key, window) OHLC combine with live-over-generated precedence
  *     (`PartialTimeSeriesAggCombiner.java:37-65`,
  *     `TimeseriesUtils.java:73-218`) → `min_by`/`max_by` over ordering
  *     structs that sort live ticks first;
  *  3. carry-forward of the previous close into each candle's open, patching
  *     all non-live slots with the propagated value
  *     (`CompleteTimeSeriesAggCombiner.java:47-186`,
  *     `TimeseriesUtils.addTSOpenValue:98-128`) → ordered window functions
  *     (`last(..., ignoreNulls)` + `lag`) instead of the reference's
  *     GlobalWindow/accumulating-pane keyed-state emulation.
  *
  * Scale notes (100 TB): the only full-data shuffle is the groupBy on
  * (key, window) — Spark's HashAggregate gives map-side partial combine for
  * free. The windows×keys grid is |time-range/resolution| × |universe| rows,
  * tiny relative to ticks; its anti-join shuffles only distinct (window, key)
  * pairs. Carry-forward sorts candles (not ticks) within each key — bounded
  * by time-range/resolution rows per key. No driver-side collection anywhere.
  *
  * Divergence from reference (documented fixes, SURVEY.md §2.11): bid min/max
  * compare *bid* prices (reference compares ask in the bid slots —
  * `TimeseriesUtils.java:167,180`); gap-fill synthetics carry null prices
  * rather than proto-default 0.0.
  */
object Candles {

  /** Expected tick schema: key, ts, bidPrice, askPrice, isLive. */
  val TickCols: Seq[String] = Seq("key", "ts", "bidPrice", "askPrice", "isLive")

  private def tickStruct: Column =
    struct(col("ts"), col("bidPrice"), col("askPrice"), col("isLive"))

  /** Synthesize `isLive=false` ticks for every (window, key) combination of
    * `universe` × observed-windows that has no tick. Mirrors
    * `CreateMissingTimeSeriesValuesDoFn.java:48-56`: synthetic ts = window
    * max timestamp, no prices.
    */
  def gapFill(ticks: DataFrame, resolution: String, universe: Option[Seq[String]] = None): DataFrame = {
    val spark = ticks.sparkSession
    val w = window(col("ts"), resolution).as("w")

    val keys = universe match {
      case Some(ks) => spark.createDataFrame(ks.map(Tuple1(_))).toDF("key")
      case None     => ticks.select("key").distinct()
    }
    // Only windows that contain at least one tick (for any key) are filled —
    // the reference's detect-missing combiner only fires for windows with
    // data (`Combine.globally().withoutDefaults()`).
    val windows = ticks.select(w).distinct()
    val observed = ticks.select(col("key"), w).distinct()
    val missing = windows
      .join(broadcast(keys))                     // grid: |windows| × |universe|
      .join(observed, Seq("w", "key"), "left_anti")
    missing.select(
      col("key"),
      timestamp_millis(unix_millis(col("w.end")) - 1).as("ts"),
      lit(null).cast("double").as("bidPrice"),
      lit(null).cast("double").as("askPrice"),
      lit(false).as("isLive"))
  }

  /** OHLC aggregation per (key, tumbling window) over live + synthetic ticks.
    * Live ticks take precedence in every slot (`TimeseriesUtils.java:130-218`);
    * ties broken deterministically by earliest ts (the reference's first-seen
    * tie-break is pane-order-dependent, i.e. unspecified).
    * Output candles still lack `open` — see [[carryForward]].
    */
  /** Close-time stamp, in micros, of the epoch-aligned tumbling window
    * containing tick time `tsMicros` at `windowMicros` resolution: window
    * end − 1 ms. The SINGLE source of truth for the closeTime convention
    * [[aggregateWindows]] stamps (`timestamp_millis(unix_millis(w.end)−1)`)
    * — replay harnesses that derive return-point bounds arithmetically from
    * raw tick bounds must use this helper, not re-encode the arithmetic.
    */
  def closeTimeMicros(tsMicros: Long, windowMicros: Long): Long =
    (Math.floorDiv(tsMicros, windowMicros) + 1) * windowMicros - 1000L

  def aggregateWindows(ticks: DataFrame, resolution: String): DataFrame = {
    val liveFirst = not(col("isLive"))           // false (= live) sorts first
    val tsAsc = unix_micros(col("ts"))
    val minOrd = (p: String) => struct(liveFirst, col(p), tsAsc)
    val maxOrd = (p: String) => struct(col("isLive"), col(p), -tsAsc)
    // close = latest tick by time; live wins a timestamp tie
    // (`TimeseriesUtils.checkAndSetCloseTsValue:194-218`).
    val closeOrd = struct(tsAsc, col("isLive"))

    ticks
      .groupBy(col("key"), window(col("ts"), resolution).as("w"))
      .agg(
        min_by(tickStruct, minOrd("askPrice")).as("minAsk"),
        max_by(tickStruct, maxOrd("askPrice")).as("maxAsk"),
        min_by(tickStruct, minOrd("bidPrice")).as("minBid"),
        max_by(tickStruct, maxOrd("bidPrice")).as("maxBid"),
        max_by(tickStruct, closeOrd).as("close"),
        max(col("isLive")).as("isLive"))
      .select(
        col("key"),
        col("w.start").as("windowStart"),
        col("w.end").as("windowEnd"),
        timestamp_millis(unix_millis(col("w.end")) - 1).as("closeTime"),
        col("minAsk"), col("maxAsk"), col("minBid"), col("maxBid"),
        col("close"), col("isLive"))
  }

  /** Carry the previous close forward into each candle, ordered by closeTime
    * within each key (`CompleteTimeSeriesAggCombiner.extractOutput:109-160`):
    *
    *  - `open` := previous *patched* close verbatim; the first candle seeds
    *    `open` := its own pre-patch close
    *    (`CompleteTimeSeriesAggCombiner.java:146-155`);
    *  - every non-live slot := propagated value = last live close's prices
    *    with ts advanced to this candle's close time
    *    (`TimeseriesUtils.addTSOpenValue:98-128`). Because a (key, window)
    *    group is either all-live or a single synthetic (gap-fill only fires
    *    for fully-missing windows), slot-liveness == candle-liveness.
    *
    * The key exchange the window needs is sized explicitly to the session's
    * shuffle partitions ([[Scans.fanToShufflePartitions]]), not left to
    * AQE's byte-based coalescing: a candle relation of a few MB would be
    * merged into one or two partitions, yet every per-key stage downstream (log-returns, the packet pivot, rolling indicators)
    * runs at this exchange's width with no further shuffle.
    */
  def carryForward(candles: DataFrame): DataFrame = {
    val byKey = W.partitionBy("key").orderBy("closeTime")
    val prevRows = byKey.rowsBetween(W.unboundedPreceding, -1)

    val patched = Scans.fanToShufflePartitions(candles, col("key"))
      .withColumn("lastLiveClose",
        last(when(col("close.isLive"), col("close")), ignoreNulls = true).over(prevRows))
      .withColumn("closeP",
        when(col("close.isLive") || col("lastLiveClose").isNull, col("close"))
          .otherwise(struct(
            col("close.ts").as("ts"),
            col("lastLiveClose.bidPrice").as("bidPrice"),
            col("lastLiveClose.askPrice").as("askPrice"),
            lit(false).as("isLive"))))
      .withColumn("open", coalesce(lag(col("closeP"), 1).over(byKey), col("close")))

    def slot(name: String): Column =
      when(col("isLive"), col(name)).otherwise(col("closeP")).as(name)

    patched.select(
      col("key"), col("windowStart"), col("windowEnd"), col("closeTime"),
      col("open"), col("closeP").as("close"),
      slot("minAsk"), slot("maxAsk"), slot("minBid"), slot("maxBid"),
      col("isLive"))
  }

  /** Linear-interpolation fill — the alternative gap policy to
    * [[carryForward]] (the reference hard-codes carry-forward in
    * `TimeseriesUtils.addTSOpenValue:98-128`; interpolation is the other
    * standard fill a timeseries engine offers): each synthetic candle's
    * close is interpolated between
    * the nearest live closes on either side, positioned by candle index
    * (windows are uniform, so index distance == time distance). Trailing
    * gaps (no later live close) carry the last live value forward; leading
    * gaps (no earlier live close) stay null — there is no basis to invent a
    * price before the first observation.
    *
    * Same execution shape as carry-forward: one shuffle on the key, two
    * frame scans (preceding + following) inside the per-key sort — no
    * self-join, scale-equivalent to the reference's signature gap-fill.
    */
  def interpolate(candles: DataFrame): DataFrame = {
    val byKey = W.partitionBy("key").orderBy("closeTime")
    val before = byKey.rowsBetween(W.unboundedPreceding, -1)
    // "nearest live AFTER this row" via a DESCENDING growing frame: Spark
    // evaluates UNBOUNDED PRECEDING frames incrementally (O(n) running
    // aggregate) but rebuilds UNBOUNDED FOLLOWING frames per row (O(n²)
    // per key — no retract support), so the forward lookup runs on the
    // reversed sort instead.
    val afterRev = W.partitionBy("key").orderBy(col("closeTime").desc)
      .rowsBetween(W.unboundedPreceding, -1)

    def live(c: Column): Column = when(col("isLive"), c)
    val withIdx = candles
      .withColumn("__i", row_number().over(byKey))
      .withColumn("__la", live(col("close.askPrice")))
      .withColumn("__lb", live(col("close.bidPrice")))
      .withColumn("__li", live(col("__i")))

    val prevI = last(col("__li"), ignoreNulls = true).over(before)
    val nextI = last(col("__li"), ignoreNulls = true).over(afterRev)
    def interp(liveV: Column, prevV: Column, nextV: Column): Column =
      when(col("isLive"), liveV)
        .when(prevV.isNull, lit(null))
        .when(nextV.isNull, prevV)
        .otherwise(prevV + (nextV - prevV) *
          (col("__i") - prevI).cast("double") / (nextI - prevI).cast("double"))

    withIdx.select(
      col("key"), col("closeTime"), col("isLive"),
      interp(col("__la"),
        last(col("__la"), ignoreNulls = true).over(before),
        last(col("__la"), ignoreNulls = true).over(afterRev)).as("askInterp"),
      interp(col("__lb"),
        last(col("__lb"), ignoreNulls = true).over(before),
        last(col("__lb"), ignoreNulls = true).over(afterRev)).as("bidInterp"))
  }

  /** Multi-resolution rollup: re-aggregate FLATTENED candles (see
    * [[flatten]]; the reference computes each resolution from raw ticks —
    * `FXTimeSeriesPipelineOptions.java:32-36` fixes one `candleResolution`
    * per run) to a coarser resolution directly from the finer candles —
    * OHLC-of-OHLC, never re-reading ticks. At 100 TB this is the resample
    * path that makes dashboards cheap: each coarser level costs one
    * aggregation over the previous level (hours → days → weeks), a fraction
    * of the raw-tick scan.
    *
    * Semantics: open state = earliest sub-candle's, close state = latest
    * sub-candle's, min/max = min/max over sub-candles (null-skipping, so
    * leading pre-live candles don't poison a bucket), live if any sub-candle
    * is live.
    */
  def rollUp(flat: DataFrame, resolution: String): DataFrame =
    flat
      .groupBy(col("key"), window(col("closeTime"), resolution).as("w"))
      .agg(
        max(col("closeTime")).as("closeTime"),
        min_by(col("openStateTime"), col("closeTime")).as("openStateTime"),
        max_by(col("closeStateTime"), col("closeTime")).as("closeStateTime"),
        min(col("minAskPrice")).as("minAskPrice"),
        max(col("maxAskPrice")).as("maxAskPrice"),
        min(col("minBidPrice")).as("minBidPrice"),
        max(col("maxBidPrice")).as("maxBidPrice"),
        bool_or(col("isLive")).as("isLive"))
      .drop("w")

  /** A gap-fill singleton projected straight to candle shape: every slot
    * is the synthetic tick itself — exactly what [[aggregateWindows]]
    * computes for a one-row (key, window) group, skipped because the
    * answer is known. See [[aggregate]] for why this is safe.
    */
  private def gapCandles(gaps: DataFrame, resolution: String): DataFrame = {
    val t = tickStruct
    gaps
      .withColumn("w", window(col("ts"), resolution))
      .select(
        col("key"),
        col("w.start").as("windowStart"),
        col("w.end").as("windowEnd"),
        timestamp_millis(unix_millis(col("w.end")) - 1).as("closeTime"),
        t.as("minAsk"), t.as("maxAsk"), t.as("minBid"), t.as("maxBid"),
        t.as("close"), col("isLive"))
  }

  /** Full candle pipeline: gap-fill → OHLC aggregate → union → carry-forward.
    * The public API shape the reference packages as
    * `CreateAggregatesTransform` (`CreateAggregatesTransform.java:63-156`).
    *
    * The synthetic gap rows join AFTER the aggregation, projected directly
    * to candle shape ([[gapCandles]]): a generated row exists only for a
    * (window, key) pair with NO input tick, so no group ever merges input
    * with generated rows and the post-agg union is value-identical to
    * aggregating the union (CandlesSpec pins the equality). It is also
    * ~2× cheaper end-to-end: the OHLC aggregate's sort then runs over the
    * bare tick scan in one codegen stage instead of over a Union node
    * (measured 4.2 → 0.8 s for the aggregate stage at sf0.1; BASELINE.md
    * "Recorded BENCH history", r9 continuation 2, has the per-gate effect).
    */
  def aggregate(
      ticks: DataFrame,
      resolution: String = "120 seconds",
      universe: Option[Seq[String]] = None,
      fillGaps: Boolean = true): DataFrame = {
    val in = ticks.select(TickCols.map(col): _*)
    val agged = aggregateWindows(in, resolution)
    val all =
      if (fillGaps)
        agged.unionByName(gapCandles(gapFill(in, resolution, universe),
          resolution))
      else agged
    carryForward(all)
  }

  /** Flattened candle view — reference `SimpleAggTester`
    * (`src/TimeSeriesProtos.proto:54-63`, `FXTimeSeriesPipelineSRGTests.java:317-335`).
    */
  def flatten(candles: DataFrame): DataFrame =
    candles.select(
      col("key"),
      col("closeTime"),
      col("open.ts").as("openStateTime"),
      col("close.ts").as("closeStateTime"),
      col("minAsk.askPrice").as("minAskPrice"),
      col("maxAsk.askPrice").as("maxAskPrice"),
      col("minBid.bidPrice").as("minBidPrice"),
      col("maxBid.bidPrice").as("maxBidPrice"),
      col("isLive"))
}
