package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming ordered-funnel tracking — the online twin of
  * [[graft.operators.Behavior.funnel]]: per-user keyed state holds the
  * highest stage reached and the time it was reached; each arriving event
  * either advances the funnel (emitting one attainment row, exactly once per
  * (user, stage)) or is dropped. The product-analytics ingest shape: funnel
  * dashboards update per micro-batch instead of rescanning the event log.
  *
  * Semantics: identical to the batch operator's
  * earliest-qualifying-event rule. Batch computes `tᵢ = min{ts of stage-i
  * events ≥ tᵢ₋₁}`; a greedy walk over events in ascending event-time order
  * reaches the same `tᵢ` by induction (the first qualifying stage-i event
  * encountered IS the min, given tᵢ₋₁ already matches). Within a micro-batch
  * the handler sorts its rows by `(ts, stage_idx)` — ties between a stage
  * and its successor at the same timestamp resolve in stage order, matching
  * the batch `>=` comparison — and `FileReplay.timeChunks` never splits
  * equal timestamps across epochs, so replay order is globally
  * ascending-time and the union of epoch outputs equals the batch
  * attainment set regardless of slicing.
  *
  * State per user is two scalars (stage index + timestamp) — at 100 TB the
  * store holds |active users| fixed-size entries in RocksDB, independent of
  * event volume; nothing is ever re-read or re-scanned.
  */
object StreamingFunnel {

  /** `(user, tsMicros, stageIdx)` input row — stage mapping happens before
    * the stateful operator so the state schema is stage-list-agnostic. */
  private[streaming] case class FunnelEvent(userId: Long, tsMicros: Long,
      stageIdx: Int)

  /** Highest stage reached (0-based) and when. */
  private[streaming] case class FunnelState(stage: Int, tMicros: Long)

  /** One attainment: `userId` first reached `stageIdx`. */
  private[streaming] case class FunnelHit(userId: Long, stageIdx: Int)

  private[streaming] class FunnelProcessor(nStages: Int)
      extends StatefulProcessor[Long, FunnelEvent, FunnelHit] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelHit] = {
      val cur = if (st.exists()) st.get() else FunnelState(-1, Long.MinValue)
      var stage = cur.stage
      var t = cur.tMicros
      val hits = ArrayBuffer.empty[FunnelHit]
      // ties sort stage-first so a same-timestamp successor still advances
      rows.toArray.sortBy(e => (e.tsMicros, e.stageIdx)).foreach { e =>
        if (stage + 1 < nStages && e.stageIdx == stage + 1 &&
            (stage == -1 || e.tsMicros >= t)) {
          stage += 1; t = e.tsMicros
          hits += FunnelHit(key, stage)
        }
      }
      if (stage > cur.stage) st.update(FunnelState(stage, t))
      hits.iterator
    }
  }

  /** Watermark-BUFFERED funnel processor — the out-of-order form. The
    * greedy walk above is ORDER-SENSITIVE (a stage-2 event processed
    * before its preceding stage-1 event would be dropped, diverging from
    * batch), so under bounded disorder the standard construction applies:
    * buffer arriving events in per-user list state, and on each
    * invocation greedily walk ONLY the events with `ts < watermark`, in
    * (ts, stageIdx) order — by the replay's disorder bound every event
    * below the watermark has already arrived, so each drain consumes an
    * exact PREFIX of the global per-user event order (ties at the
    * watermark stay buffered together), and the walk's induction is the
    * in-order twin's unchanged. An event-time timer armed at the earliest
    * buffered timestamp drains quiet keys as the watermark passes them.
    *
    * State per user is the funnel scalars plus the buffer, which the
    * watermark bounds at `disorder × per-user arrival rate` — at 100 TB
    * the store holds |active users| entries whose size tracks the
    * transport's jitter bound, never the stream length.
    */
  private[streaming] class BufferedFunnelProcessor(nStages: Int)
      extends StatefulProcessor[Long, FunnelEvent, FunnelHit] {
    @transient private var st: ValueState[FunnelState] = _
    @transient private var buf: ListState[FunnelEvent] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[FunnelState]("funnel",
        Encoders.product[FunnelState], TTLConfig.NONE)
      buf = getHandle.getListState[FunnelEvent]("buf",
        Encoders.product[FunnelEvent], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armedTimer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def run(key: Long, newRows: Iterator[FunnelEvent],
        wmMs: Long): Iterator[FunnelHit] = {
      val wmMicros = wmMs * 1000L
      val all = buf.get().toArray ++ newRows
      // ready = every event strictly below the watermark: all of these
      // have arrived (disorder bound), and everything still in flight is
      // >= wm — so this is a clean prefix split of the per-user order
      val (ready, pending) = all.partition(_.tsMicros < wmMicros)
      val cur = if (st.exists()) st.get() else FunnelState(-1, Long.MinValue)
      var stage = cur.stage
      var t = cur.tMicros
      val hits = ArrayBuffer.empty[FunnelHit]
      ready.sortBy(e => (e.tsMicros, e.stageIdx)).foreach { e =>
        if (stage + 1 < nStages && e.stageIdx == stage + 1 &&
            (stage == -1 || e.tsMicros >= t)) {
          stage += 1; t = e.tsMicros
          hits += FunnelHit(key, stage)
        }
      }
      if (stage > cur.stage) st.update(FunnelState(stage, t))
      buf.clear()
      if (pending.nonEmpty) {
        buf.appendList(pending)
        // single-timer discipline (the CandleProcessor rule): one armed
        // timer per key at the earliest buffered event's ms floor — it
        // fires once the watermark strictly passes it, which implies
        // wmMicros > that event's timestamp
        val at = math.max(pending.iterator.map(_.tsMicros).min / 1000L,
          wmMs + 1L)
        if (armed.exists() && armed.get() != at) getHandle.deleteTimer(armed.get())
        if (!armed.exists() || armed.get() != at) {
          getHandle.registerTimer(at)
          armed.update(at)
        }
      } else if (armed.exists()) {
        getHandle.deleteTimer(armed.get()); armed.clear()
      }
      hits.iterator
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEvent],
        timerValues: TimerValues): Iterator[FunnelHit] =
      run(key, rows, timerValues.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[FunnelHit] =
      run(key, Iterator.empty, timerValues.getCurrentWatermarkInMs())
  }

  /** Apply the streaming funnel to `stream`; returns one append-mode row
    * per (user, newly-reached stage). Events not matching any stage are
    * filtered before the shuffle.
    */
  def funnel(stream: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = stream.sparkSession
    import spark.implicits._
    val idx = stages.zipWithIndex.map { case (s, i) => (s, i) }
      .toDF(typeCol, "__stage_idx")
    val keyed = stream
      .join(broadcast(idx), typeCol) // maps type → stage idx, drops the rest
      .select(col(userCol).cast("long").as("userId"),
        unix_micros(col(tsCol)).as("tsMicros"),
        col("__stage_idx").cast("int").as("stageIdx"))
      .as[FunnelEvent]
      .groupByKey(_.userId)
    keyed.transformWithState(new FunnelProcessor(stages.size),
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** The out-of-order streaming funnel: watermark the stream with
    * `watermarkDelay` (which must cover the feed's disorder bound), then
    * run the [[BufferedFunnelProcessor]] in event-time mode. Same output
    * contract as [[funnel]] — one append row per (user, newly-reached
    * stage) — but correct under any arrival order the watermark bounds.
    * Needs the RocksDB state store provider (multiple state variables);
    * the replay harness sets it, a deployment configures it session-wide.
    */
  def funnelLate(stream: DataFrame, stages: Seq[String],
      watermarkDelay: String, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val spark = stream.sparkSession
    import spark.implicits._
    val idx = stages.zipWithIndex.map { case (s, i) => (s, i) }
      .toDF(typeCol, "__stage_idx")
    stream
      .withWatermark(tsCol, watermarkDelay)
      .join(broadcast(idx), typeCol)
      .select(col(userCol).cast("long").as("userId"),
        unix_micros(col(tsCol)).as("tsMicros"),
        col("__stage_idx").cast("int").as("stageIdx"))
      .as[FunnelEvent]
      .groupByKey(_.userId)
      .transformWithState(new BufferedFunnelProcessor(stages.size),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** Replay a bounded event table through the streaming funnel in `batches`
    * time-sliced micro-batches and aggregate the emitted attainments into
    * the batch operator's `(stage_idx, stage, n_users)` shape — the
    * correctness gate (same oracle as `ev_funnel`, zero-reach stages
    * included via the static stage list).
    */
  def replayBatch(events: DataFrame, stages: Seq[String],
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val in = events.select(col(userCol), col(tsCol), col(typeCol))
      .filter(col(typeCol).isin(stages: _*))
    val (chunk, _, _) = FileReplay.timeChunks(in, tsCol, batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val hits = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => funnel(src, stages, userCol, tsCol, typeCol))
    toShape(hits, stages)
  }

  /** Replay the bounded event table OUT OF EVENT ORDER — each event's
    * arrival is delayed by a deterministic per-(user, type) amount bounded
    * by `disorder` ([[FileReplay.disorderChunksFor]]), so events cross
    * micro-batch boundaries out of order — through the watermark-buffered
    * funnel ([[funnelLate]] with a matching watermark). A doubled sentinel
    * staged `disorder` past the last event advances the final watermark
    * over every buffered event (the sentinel's type matches no stage, so
    * it feeds the watermark and nothing else). The union of emitted
    * attainments must equal the in-order replay's and batch's — the
    * stream_funnel_late gate pins it against the same oracle.
    */
  def replayBatchLate(events: DataFrame, stages: Seq[String],
      disorder: String = "24 hours", userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val disorderMicros = StreamingCandles.durationMicros(disorder)
    require(disorderMicros > 0, "use replayBatch for an in-order replay")
    val in = events.select(col(userCol), col(tsCol), col(typeCol))
      .filter(col(typeCol).isin(stages: _*))
    val (_, lo, hi) = FileReplay.timeChunks(in, tsCol, batches)
    val chunk = FileReplay.disorderChunksFor(tsCol,
      Seq(col(userCol), col(typeCol)), lo, hi, batches, disorderMicros)
    val sentinel = spark.range(1).select(
      lit(-1L).as(userCol),
      timestamp_micros(lit(hi + disorderMicros + 1000L)).as(tsCol),
      lit("__WM__").as(typeCol))
    val root = FileReplay.stage(in, chunk, Seq(sentinel, sentinel))
    val hits = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => funnelLate(src, stages, disorder, userCol, tsCol, typeCol))
    toShape(hits, stages)
  }

  /** Fold emitted attainments into the batch operator's
    * `(stage_idx, stage, n_users)` shape, zero-reach stages included. */
  private def toShape(hits: DataFrame, stages: Seq[String]): DataFrame = {
    val spark = hits.sparkSession
    import spark.implicits._
    val names = stages.zipWithIndex.map { case (s, i) => (i, s) }
      .toDF("stage_idx", "stage")
    names.join(hits.groupBy(col("stageIdx").as("stage_idx"))
        .agg(count(lit(1)).as("n_users")),
        Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }
}
