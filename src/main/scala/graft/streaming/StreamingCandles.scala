package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.{Candle, Tick, TickS}

/** Structured-Streaming OHLC candle pipeline: tumbling windows, gap-fill and
  * close carry-forward in ONE stateful operator.
  *
  * The reference emulates keyed state with a GlobalWindow + accumulating
  * per-element panes (`FXTimeSeriesPipelineDemo.java:177-186`,
  * `CompleteTimeSeriesAggCombiner.java:47-186` — the Dataflow-1.9 workaround
  * its own README calls out, `README.MD:17`). Spark has real keyed state, so
  * the whole candle stage collapses into ONE stateful operator over
  * `groupByKey(_.key)` — `transformWithState`, Spark 4's arbitrary-state
  * API (explicit timers, state TTL, schema evolution), around a pure
  * fold/emit core:
  *
  *  - state per instrument = open window buckets (partial OHLC) + the last
  *    emitted patched close — O(openWindows) per key, bounded by the
  *    watermark delay, unlike the reference's never-pruned accumulator
  *    (`CompleteTimeSeriesAggCombiner.java:168-186`, the `compact()` no-op);
  *  - event-time timeouts replace `DetectMissingTimeSeriesValuesCombiner` +
  *    `CreateMissingTimeSeriesValuesDoFn`: when the watermark passes a window
  *    end with no data for a key, a synthetic carried-forward candle is
  *    emitted (`isLive = false`, prices carried from the last live close);
  *  - bucket fold + carry-forward replicate [[graft.operators.Candles]]'
  *    orderings exactly (live-over-synthetic precedence, earliest-ts
  *    tie-breaks, latest-ts close), so batch and streaming outputs are
  *    bit-identical on the same input — asserted by `StreamingSpec`.
  *
  * Fill semantics: batch gap-fill is data-driven — it only fills windows
  * observed somewhere in the dataset (the reference's
  * `Combine.globally().withoutDefaults()`); a live stream's fill is
  * time-driven — once a key has state, every elapsed window up to the
  * watermark gets a candle, whether or not any instrument traded. Both
  * contracts are served: [[candles]] defaults to time-driven (the live
  * publish-on-schedule contract), and an optional observed-window `grid`
  * restricts emission to the batch contract — [[replayBatch]] passes the
  * grid it scans off its bounded input, so replay output equals batch
  * output at ANY sparsity (both pinned by StreamingSpec).
  *
  * Scale notes (100 TB): state is partitioned by instrument key across
  * executors by the groupByKey shuffle; per-key state is a handful of open
  * buckets + one close, so total state is O(|universe| × openWindows) —
  * megabytes at 10k instruments. Late ticks older than the watermark are
  * dropped (recorded per key), keeping state bounded regardless of disorder.
  */
object StreamingCandles {

  // ------------------------------------------------------------------ state

  /** A tick occupying a candle slot, micros-encoded for compact state. */
  case class Slot(tsMicros: Long, bidPrice: Option[Double],
      askPrice: Option[Double], isLive: Boolean)

  /** Partial OHLC for one open (key, window) bucket. */
  case class Buf(minAsk: Slot, maxAsk: Slot, minBid: Slot, maxBid: Slot,
      close: Slot, anyLive: Boolean)

  /** Per-instrument state: open buckets keyed by window start (micros), the
    * last emitted window, and carry-forward context (previous patched close +
    * last live close prices — the streaming form of the batch operator's
    * `lag(closeP)` / `last(close, ignoreNulls)` window functions).
    */
  case class KeyState(
      buckets: Map[Long, Buf],
      emittedThrough: Option[Long],
      lastCloseP: Option[Slot],
      lastLiveBid: Option[Double],
      lastLiveAsk: Option[Double])

  // ------------------------------------------------------------- orderings
  // Exact mirrors of Candles.aggregateWindows' min_by/max_by ordering structs
  // (live ticks first; price; earliest-ts tie-break; close = latest ts, live
  // wins a timestamp tie — `TimeseriesUtils.java:130-218`). Spark struct
  // ordering sorts NULL first ascending, so None < Some here.

  private def cmpOpt(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (None, None)       => 0
    case (None, _)          => -1
    case (_, None)          => 1
    case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
  }

  private def liveRank(s: Slot): Int = if (s.isLive) 0 else 1

  /** candidate `c` replaces `cur` in a min-price slot. */
  private def minWins(c: Slot, cur: Slot, p: Slot => Option[Double]): Boolean = {
    val l = liveRank(c) - liveRank(cur)
    if (l != 0) return l < 0
    val pc = cmpOpt(p(c), p(cur))
    if (pc != 0) pc < 0 else c.tsMicros < cur.tsMicros
  }

  /** candidate `c` replaces `cur` in a max-price slot (earliest-ts tie). */
  private def maxWins(c: Slot, cur: Slot, p: Slot => Option[Double]): Boolean = {
    val l = liveRank(c) - liveRank(cur)
    if (l != 0) return l < 0
    val pc = cmpOpt(p(c), p(cur))
    if (pc != 0) pc > 0 else c.tsMicros < cur.tsMicros
  }

  /** candidate `c` replaces `cur` as close (latest ts; live wins a tie). */
  private def closeWins(c: Slot, cur: Slot): Boolean =
    if (c.tsMicros != cur.tsMicros) c.tsMicros > cur.tsMicros
    else c.isLive && !cur.isLive

  private def fold(buf: Buf, s: Slot): Buf = Buf(
    if (minWins(s, buf.minAsk, _.askPrice)) s else buf.minAsk,
    if (maxWins(s, buf.maxAsk, _.askPrice)) s else buf.maxAsk,
    if (minWins(s, buf.minBid, _.bidPrice)) s else buf.minBid,
    if (maxWins(s, buf.maxBid, _.bidPrice)) s else buf.maxBid,
    if (closeWins(s, buf.close)) s else buf.close,
    buf.anyLive || s.isLive)

  // ----------------------------------------------------------------- utils

  private[graft] def durationMicros(s: String): Long = {
    val parts = s.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"expected '<n> <unit>', got '$s'")
    val base = parts(1).stripSuffix("s") match {
      case "millisecond" => 1000L
      case "second"      => 1000000L
      case "minute"      => 60000000L
      case "hour"        => 3600000000L
      case "day"         => 86400000000L
      case u             => throw new IllegalArgumentException(s"unit $u")
    }
    parts(0).toLong * base
  }

  private def microsOf(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000L

  private def tsOf(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  private def tickS(s: Slot): TickS =
    TickS(tsOf(s.tsMicros), s.bidPrice, s.askPrice, s.isLive)

  // ------------------------------------------------------------- processor
  // The candle step is two pure functions; the stateful processor below only
  // loads state into them, writes their result back and arms the timer.

  /** Fold new ticks into window buckets; drop ticks for already-emitted
    * windows (late beyond watermark — same fate as in any watermarked agg).
    */
  private def foldTicks(st0: KeyState, ticks: Iterator[Tick], resMicros: Long): KeyState = {
    var buckets = st0.buckets
    val emittedFloor = st0.emittedThrough.map(_ + resMicros)
    ticks.foreach { t =>
      val tm = microsOf(t.ts)
      val w = Math.floorDiv(tm, resMicros) * resMicros
      if (!emittedFloor.exists(w < _)) {
        val s = Slot(tm, t.bidPrice, t.askPrice, t.isLive)
        buckets = buckets.updated(w,
          buckets.get(w).map(fold(_, s)).getOrElse(Buf(s, s, s, s, s, s.isLive)))
      }
    }
    st0.copy(buckets = buckets)
  }

  /** Emit all complete windows in order (gap-filling data-less ones);
    * returns (candles, new state, next pending window end to arm a timer
    * at). Idempotent under re-invocation at the same watermark — already-
    * emitted windows never re-emit — so a micro-batch that delivers both
    * data and an expired timer for one key is safe.
    *
    * `grid`: when set, only windows in the set emit — a window absent
    * from the grid is passed over entirely (no candle, no carry update:
    * state leaves it exactly as if the window never elapsed), which is
    * the batch/reference contract ("fill only windows observed somewhere
    * in the dataset", `Combine.globally().withoutDefaults()`). `None` is
    * the live-feed contract: every elapsed window publishes on schedule.
    * A bucket can only exist for an in-grid window (data ⇒ observed), so
    * the skip branch never discards ticks.
    */
  private def emitReady(key: String, st0: KeyState, wm: Long,
      resMicros: Long, grid: Option[Set[Long]]): (ArrayBuffer[Candle], KeyState, Option[Long]) = {
    val out = ArrayBuffer.empty[Candle]
    var buckets = st0.buckets
    var lastCloseP = st0.lastCloseP
    var lastLiveBid = st0.lastLiveBid
    var lastLiveAsk = st0.lastLiveAsk
    var emitted = st0.emittedThrough
    val start = st0.emittedThrough.map(_ + resMicros)
      .orElse(if (buckets.nonEmpty) Some(buckets.keys.min) else None)

    start.foreach { s0 =>
      var w = s0
      while (w + resMicros <= wm) {
        // a window absent from the grid is only marked elapsed: no candle,
        // no carry update — lastCloseP/lastLive* stay untouched so the
        // chain (and its timestamps) skip it exactly as the batch grid does
        if (grid.forall(_.contains(w))) {
          val wEnd = w + resMicros
          val closeTimeMic = wEnd - 1000L // window max timestamp (end − 1 ms)
          val (buf, anyLive) = buckets.get(w) match {
            case Some(b) => (b, b.anyLive)
            case None => // gap window: one synthetic "tick" at window max ts
              val s = Slot(closeTimeMic, None, None, isLive = false)
              (Buf(s, s, s, s, s, anyLive = false), false)
          }
          val closeRaw = buf.close
          val closeP =
            if (closeRaw.isLive || lastLiveAsk.isEmpty) closeRaw
            else Slot(closeRaw.tsMicros, lastLiveBid, lastLiveAsk, isLive = false)
          val open = lastCloseP.getOrElse(closeRaw) // first candle seeds raw close
          def slot(s: Slot): TickS = tickS(if (anyLive) s else closeP)

          out += Candle(key, tsOf(w), tsOf(wEnd), tsOf(closeTimeMic),
            tickS(open), tickS(closeP),
            slot(buf.minAsk), slot(buf.maxAsk), slot(buf.minBid), slot(buf.maxBid),
            anyLive)

          lastCloseP = Some(closeP)
          if (closeRaw.isLive) {
            lastLiveBid = closeRaw.bidPrice
            lastLiveAsk = closeRaw.askPrice
          }
          buckets -= w
        }
        emitted = Some(w)
        w += resMicros
      }
    }
    val st1 = KeyState(buckets, emitted, lastCloseP, lastLiveBid, lastLiveAsk)
    val nextEnd = emitted.map(_ + 2 * resMicros)
      .orElse(buckets.keys.minOption.map(_ + resMicros))
    (out, st1, nextEnd)
  }

  /** Carry-forward context persisted between invocations — [[KeyState]]
    * minus the bucket map, which lives in its own [[MapState]] (the tWS
    * state encoder rejects MapType inside a value state, and per-bucket
    * point updates are the right access pattern anyway: closing one window
    * touches one map key, not the whole blob).
    */
  private[streaming] case class CarryState(
      emittedThrough: Option[Long],
      lastCloseP: Option[Slot],
      lastLiveBid: Option[Double],
      lastLiveAsk: Option[Double])

  /** `transformWithState` processor (SURVEY §2.3's target API — the arbitrary
    * -state operator Spark 4 ships for exactly this shape): one invocation
    * folds new ticks ([[foldTicks]]), emits every window completed by the
    * current watermark ([[emitReady]]) and manages the timer — one armed
    * event-time timer per key, deleted and re-registered as windows close,
    * so watermark advance alone still fires gap-fill for quiet keys.
    * Requires the RocksDB state store provider (multiple column families);
    * [[candles]] sets it on the session.
    */
  private[streaming] class CandleProcessor(resMicros: Long,
      grid: Option[Set[Long]] = None)
      extends StatefulProcessor[String, Tick, Candle] {
    @transient private var buckets: MapState[Long, Buf] = _
    @transient private var carry: ValueState[CarryState] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, Buf]("buckets",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[Buf], TTLConfig.NONE)
      carry = getHandle.getValueState[CarryState]("carry",
        org.apache.spark.sql.Encoders.product[CarryState], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armedTimer",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    private def run(key: String, ticks: Iterator[Tick], wmMs: Long): Iterator[Candle] = {
      val c0 = if (carry.exists()) carry.get() else
        CarryState(None, None, None, None)
      val b0: Map[Long, Buf] = if (buckets.exists()) buckets.iterator().toMap else Map.empty
      val st0 = KeyState(b0, c0.emittedThrough, c0.lastCloseP, c0.lastLiveBid, c0.lastLiveAsk)
      val st1 = foldTicks(st0, ticks, resMicros)
      val (out, st2, nextEnd) = emitReady(key, st1, wmMs * 1000L, resMicros, grid)
      // write back as a diff: emitted windows drop their bucket, touched
      // windows update in place — nothing else is rewritten
      b0.keysIterator.filterNot(st2.buckets.contains).foreach(buckets.removeKey)
      st2.buckets.foreach { case (w, b) =>
        if (!b0.get(w).contains(b)) buckets.updateValue(w, b)
      }
      carry.update(CarryState(st2.emittedThrough, st2.lastCloseP,
        st2.lastLiveBid, st2.lastLiveAsk))
      nextEnd.foreach { ne =>
        val at = Math.max(ne / 1000L - 1L, wmMs + 1L)
        // single-timer discipline: drop the previously armed timer (a no-op
        // if it already fired) so timers never accumulate per key
        if (armed.exists() && armed.get() != at) getHandle.deleteTimer(armed.get())
        if (!armed.exists() || armed.get() != at) {
          getHandle.registerTimer(at)
          armed.update(at)
        }
      }
      out.iterator
    }

    override def handleInputRows(key: String, rows: Iterator[Tick],
        timerValues: TimerValues): Iterator[Candle] =
      run(key, rows, timerValues.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Candle] =
      run(key, Iterator.empty, timerValues.getCurrentWatermarkInMs())
  }

  // ------------------------------------------------------------ public API

  /** Streaming candle pipeline over a stream of ticks (columns
    * key/ts/bidPrice/askPrice/isLive). Output schema == batch
    * [[graft.operators.Candles.aggregate]]; feed through
    * [[graft.operators.Candles.flatten]] for the `SimpleAggTester` view.
    *
    * The keyed state is Spark 4 `transformWithState`: explicit timers,
    * per-state TTL support and state schema evolution (the knobs the 100 TB
    * story leans on). It needs the RocksDB state store provider: call this
    * and start the query inside `FileReplay.withStreamConfs(spark,
    * FileReplay.rocksDbConfs)` (or configure the provider on the session).
    * Without it this fails here, naming the requirement; Spark's own error
    * at the first micro-batch names only the unsupported default provider.
    *
    * `grid`: optional set of window-start micros to restrict emission to
    * (the batch/reference "fill only observed windows" contract — what
    * [[replayBatch]] passes after scanning its bounded input). `None` is
    * the live-feed default: every elapsed window publishes on schedule.
    */
  def candles(ticks: DataFrame, resolution: String = "120 seconds",
      watermarkDelay: String = "0 seconds",
      grid: Option[Set[Long]] = None): Dataset[Candle] = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val resMicros = durationMicros(resolution)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val provider = spark.conf.get(providerKey)
    require(provider == FileReplay.rocksDbConfs(providerKey),
      "StreamingCandles.candles keeps its state with transformWithState, " +
        "which needs the RocksDB state store provider " +
        s"(FileReplay.rocksDbConfs); the session has $provider")
    ticks
      .withWatermark("ts", watermarkDelay)
      .as[Tick]
      .groupByKey(_.key)
      .transformWithState(new CandleProcessor(resMicros, grid),
        TimeMode.EventTime(), OutputMode.Append())
  }

  // ------------------------------------------------- replay harness (tests)

  /** Replay a bounded tick table through the streaming pipeline via a
    * time-sliced file source ([[FileReplay]]) and return the emitted candles
    * as a batch DataFrame. Only O(|keys|) aggregate rows ever reach the
    * driver; the slicing itself is one executor-side partitioned write, so
    * the replay scales with the cluster, not with driver memory.
    *
    * Reference-faithful static-universe seeding (`WorkPacketConfig`,
    * `src/TimeSeriesProtos.proto:65-68`): every key absent from the first
    * window gets one synthetic seed tick there, so all instruments are
    * candled from stream start — making output identical to the batch grid
    * when every window in range is observed. A sentinel tick at the last
    * window's end advances the watermark just enough to close it without
    * opening the next.
    *
    * Batch parity is exact AT ANY SPARSITY: the reference (and
    * [[graft.operators.Candles.gapFill]], mirroring
    * `Combine.globally().withoutDefaults()`) fills only OBSERVED windows,
    * while a timer-driven state operator naturally fires on every window
    * boundary — the standard live-feed contract (empty candles publish on
    * schedule, with the carry chain threading through them, which shifts
    * the carry TIMESTAMPS so post-filtering cannot reconcile the two).
    * The replay closes that gap at the source: the bounded input is
    * scanned once for the set of globally-observed windows (O(#windows)
    * longs — a few KB for any real span) and [[candles]] emits on that
    * grid, so globally-empty windows are passed over exactly as the batch
    * operator passes over them. `gridAware = false` restores the pure
    * live-feed contract (every elapsed window publishes — the "globally
    * empty windows" StreamingSpec test pins both semantics).
    *
    * `disorder`: when non-zero, each tick arrives up to that much LATER
    * than its event time (deterministic per-(key, ts) delay —
    * [[FileReplay.disorderChunksFor]]), and the query runs with a
    * matching watermark delay, so individual events cross micro-batch
    * boundaries out of event order while staying inside the watermark —
    * the disorder a real feed has, which in-order slicing never
    * exercises. Output is identical to the in-order replay (and to
    * batch) by the no-drop bound documented on the chunker; the
    * stream_candles_late gate pins that equality against the batch
    * oracle.
    */
  def replayBatch(ticks: DataFrame, resolution: String,
      sentinelKey: String = "__WM__", batches: Int = 16,
      gridAware: Boolean = true, disorder: String = "0 seconds"): DataFrame = {
    val spark = ticks.sparkSession
    val disorderMicros = durationMicros(disorder)
    val (root, inSchema, grid) =
      replayStage(ticks, resolution, sentinelKey, batches, disorderMicros)
    FileReplay.run(spark, root, inSchema, FileReplay.rocksDbConfs)(
        src => candles(src, resolution, watermarkDelay = disorder,
          grid = if (gridAware) Some(grid) else None).toDF())
      .filter(col("key") =!= sentinelKey)
  }

  /** Stage the candle replay input exactly as [[replayBatch]] feeds it:
    * projected ticks + per-key window-0 seed ticks, time-sliced chunks
    * that never split a window-0 timestamp, doubled sentinel at the last
    * window's end. Also returns the set of globally-OBSERVED window
    * starts (micros) — the batch grid [[replayBatch]] restricts emission
    * to. Shared with [[replayHarnessFloor]] so the floor stages a
    * byte-identical root.
    */
  private def replayStage(ticks: DataFrame, resolution: String,
      sentinelKey: String, batches: Int, disorderMicros: Long = 0L)
      : (java.nio.file.Path, org.apache.spark.sql.types.StructType, Set[Long]) = {
    val spark = ticks.sparkSession
    import spark.implicits._

    val resMicros = durationMicros(resolution)
    val in = ticks.select(
      col("key"), col("ts"), col("bidPrice"), col("askPrice"), col("isLive"))

    // per-key first-tick time + global bounds: tiny aggregates, O(|keys|)
    val firstByKey = in.groupBy("key")
      .agg(min(unix_micros(col("ts"))).as("mn"), max(unix_micros(col("ts"))).as("mx"))
      .as[(String, Long, Long)].collect()
    require(firstByKey.nonEmpty, "replayBatch needs at least one tick")
    val lo = firstByKey.iterator.map(_._2).min
    val hi = firstByKey.iterator.map(_._3).max
    val w0 = Math.floorDiv(lo, resMicros) * resMicros
    val lastEnd = Math.floorDiv(hi, resMicros) * resMicros + resMicros
    val span = math.max(1L, hi - lo)

    val seeds = firstByKey.filter(_._2 >= w0 + resMicros).map(_._1).sorted.toSeq
      .map(k => Tick(k, tsOf(w0 + resMicros - 1000L), None, None, isLive = false))
    // the sentinel sits `disorder` past the last window end so the final
    // watermark (max ts − disorder) still reaches lastEnd and fires the
    // last window's timers (its own window is past the grid / filtered)
    val sentinel =
      Tick(sentinelKey, tsOf(lastEnd + disorderMicros), None, None, isLive = false)

    // time-sliced chunks that never split equal timestamps: each chunk's
    // rows are strictly later than every earlier chunk's (the chunk id is a
    // floor of a monotone map of event time), so nothing drops as late when
    // the watermark advances chunk by chunk. The first chunk stretches over
    // all of window 0 so the seed ticks (at w0 end − 1 ms) can't outrun
    // real window-0 data; the doubled sentinel first advances the watermark
    // to lastEnd, then fires the event-time timers armed at that watermark.
    val firstCut = math.max(lo + math.ceil(span.toDouble / batches).toLong,
      w0 + resMicros + 1)
    val m = unix_micros(col("ts"))
    // disorder mode slices by ARRIVAL time (event time + bounded id-derived
    // delay) instead: rows cross chunk boundaries out of event order, the
    // matching watermark delay keeps every one inside its open window (see
    // disorderChunksFor's no-drop bound — which also covers the seed ticks,
    // so the in-order mode's first-cut stretch is unnecessary here)
    val chunk =
      if (disorderMicros > 0)
        FileReplay.disorderChunksFor("ts", Seq(col("key")), lo, hi, batches,
          disorderMicros)
      else when(m < firstCut, lit(0L)).otherwise(
        least(lit(batches - 1L), floor((m - lit(lo)) * lit(batches.toLong) / lit(span))))
    // globally-observed windows: one grouped aggregate over the projected
    // ts column — O(span/res) rows to the driver (a few KB for any real
    // span), the price of making the streamed grid equal the batch grid
    // on arbitrarily sparse data. The seed ticks live in window 0 (always
    // observed: `lo` is in it), the sentinel key is filtered post-replay,
    // so neither widens the grid.
    val grid = in.select(
        // integral floor-to-window (m − m mod res): exact for any long,
        // where floor(m / res) through a double quotient can round a
        // boundary−1 µs tick into the NEXT window (ulp near 1e7 > 1/res)
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(resMicros)))
          .as("w"))
      .distinct().as[Long].collect().toSet
    val root = FileReplay.stage(
      in.unionByName(spark.createDataset(seeds).toDF()), chunk,
      Seq(sentinel, sentinel).map(t => spark.createDataset(Seq(t)).toDF()))
    (root, in.schema, grid)
  }

  /** The candle replay's harness floor — see
    * [[StreamingCorrelations.replayHarnessFloor]] for the protocol.
    */
  def replayHarnessFloor(ticks: DataFrame, resolution: String,
      sentinelKey: String = "__WM__", batches: Int = 16,
      disorder: String = "0 seconds"): DataFrame = {
    val (root, schema, _) = replayStage(ticks, resolution, sentinelKey,
      batches, durationMicros(disorder))
    FileReplay.harnessFloor(ticks.sparkSession, root, schema)
  }
}
