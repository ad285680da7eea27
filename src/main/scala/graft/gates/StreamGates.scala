package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Candles, Correlations, Sampling, TextAnalysis}
import graft.sources.Tables
import graft.streaming.{FileReplay, StreamingCandles, StreamingCorrelations, StreamingDedup}

/** Structured Streaming twins: each replays its batch gate's input
  * through a file source ([[FileReplay]]) and answers to the same oracle.
  */
object StreamGates {

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

  /** Shared by the in-order and out-of-order candle replay gates — the
    * late twin must hit the SAME oracle bytes. */
  private lazy val duckStreamCandlesSql: String = FxGates.duckCandleCte +
    """
      |SELECT key, closeTime, openStateTime, closeStateTime,
      |       minAskPrice, maxAskPrice, minBidPrice, maxBidPrice, isLive
      |FROM candles""".stripMargin

  /** Shared by the in-order and out-of-order correlation replay gates. */
  private lazy val duckStreamCorrSql: String = FxGates.duckCandleCte + FxGates.duckCorrCte +
    """
      |SELECT wstart, key1, key2,
      |       round(greatest(-1.0, least(1.0, r0)), 6) AS r, n
      |FROM pairs
      |WHERE r0 IS NOT NULL AND isnan(r0) = FALSE
      |  AND abs(round(greatest(-1.0, least(1.0, r0)), 6)) >= 0.5""".stripMargin

  /** Replay-harness floor of the correlation replay gates: stages the
    * gate's exact input and runs the kernel-free minimum streaming query
    * over it ([[FileReplay.harnessFloor]]).
    */
  private def corrFloor(disorder: String)(s: SparkSession, dir: String): DataFrame = {
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

  /** Replay-harness floor of the candle replay gates. */
  private def candleFloor(disorder: String)(s: SparkSession, dir: String): DataFrame =
    StreamingCandles.replayHarnessFloor(
      Tables.eventsAsTicks(s, dir), "1 hour",
      batches = streamReplayBatches, disorder = disorder)

  val gates: Seq[Gate] = Seq(
    // Streaming retention twin: two-int-per-user keyed state over the
    // time-sliced replay; ascending arrival makes "new distinct day" a
    // single comparison. Same oracle as ev_retention.
    Gate("stream_retention", (s, dir) => {
      graft.streaming.StreamingRetention.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle: the replayed attainment set equals batch distinct
      // (user, day) regardless of slicing (see StreamingRetention scaladoc)
      EventGates.duckRetentionSql),

    // Streaming CDC twin: per-key latest-wins state over the time-sliced
    // replay; max-associativity makes the final view slicing-invariant
    // with NO ordering assumptions. Same oracle as cdc_snapshot.
    Gate("stream_cdc", (s, dir) => {
      graft.streaming.StreamingCdc.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle — the streamed per-key max equals the batch max
      // for any slicing (see StreamingCdc scaladoc)
      EventGates.duckSnapshotSql),

    // Disorder twin: the scaladoc claims max-associativity needs NO
    // ordering assumption — prove it under genuine disorder (bounded
    // per-(user,event) arrival delay, changes crossing epoch boundaries
    // out of event order, no watermark at all). Same oracle.
    Gate("stream_cdc_late", (s, dir) => {
      graft.streaming.StreamingCdc.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches,
        disorder = "24 hours")
    },
      // identical oracle again — the disorder twin proves the "no ordering
      // assumption" claim on genuinely out-of-order arrival
      EventGates.duckSnapshotSql),

    // Streaming SCD-2 twin: the open version per key in state; arrivals
    // close-and-open, and max(valid_to) per version folds the emissions
    // into the batch lead() history. Same oracle as cdc_scd2.
    Gate("stream_scd2", (s, dir) => {
      graft.streaming.StreamingScd2.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle — closed emissions supersede open ones, so the
      // folded history equals lead() for any slicing (see StreamingScd2)
      EventGates.duckScd2Sql),

    // Streaming twin of the versioned table: every micro-batch lands as
    // one atomic manifest commit (exactly-once publication); the final
    // version equals the raw table for any slicing. Prefix-snapshot
    // consistency across epoch counts is spec-pinned.
    Gate("stream_timetravel", (s, dir) => {
      graft.streaming.StreamingVersionedIngest.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 4) AS sum_v
        |FROM events""".stripMargin),

    // Streaming twin: per-user last-event keyed state emits each (from →
    // to) step once, in the epoch its successor arrives; the union of
    // epoch outputs equals batch lead() under any slicing.
    Gate("stream_transitions", (s, dir) => {
      graft.streaming.StreamingTransitions.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle to ev_transitions: the replayed step multiset
      // equals batch lead() under any slicing (StreamingTransitions doc)
      EventGates.duckTransitionsSql),

    // Streaming twin: seasonality-at-ingest — per-epoch (type, slot)
    // counts merge with one sum; profile ≡ batch under any slicing.
    Gate("stream_seasonality", (s, dir) => {
      graft.streaming.StreamingSeasonality.replay(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle: per-epoch slot counts merge associatively, so the
      // streamed hour-of-week profile equals the batch one under any slicing
      EventGates.duckSeasonalitySql),

    // Streaming twin: per-epoch distinct (day, user) pairs union
    // associatively; rolling actives ≡ batch under any slicing.
    Gate("stream_rolling_active", (s, dir) => {
      graft.streaming.StreamingActive.replay(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle: distinct (day, user) pair sets union
      // associatively, so the streamed rolling actives equal batch
      EventGates.duckRollingActiveSql),

    // Streaming twin: first-sight at ingest — the retention tracker's
    // diagonal hits (epochDay == cohortDay) are each user's first-ever
    // appearance, emitted once; day counts + prefix sum as in batch.
    Gate("stream_cumulative", (s, dir) => {
      graft.streaming.StreamingRetention.replayCumulative(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // identical oracle: the diagonal of the retention tracker's emitted
      // hits is the batch first-sight set under any slicing
      EventGates.duckCumulativeSql),

    // Streaming funnel twin: per-user keyed state over the time-sliced
    // replay; emitted attainments aggregate to the batch shape exactly.
    Gate("stream_funnel", (s, dir) => {
      graft.streaming.StreamingFunnel.replayBatch(Tables(s, dir, "events"),
        Seq("view", "click", "purchase"), batches = streamReplayBatches)
    },
      // same oracle — the greedy time-ordered state walk provably reaches
      // the same conditional mins (see StreamingFunnel scaladoc)
      EventGates.duckFunnelSql),

    // Disorder twin of the ORDER-SENSITIVE funnel: events arrive up to
    // 24 h late under a matching watermark; the buffered processor
    // drains below-watermark prefixes in (ts, stage) order, so the
    // attainment set equals batch under any bounded disorder. Same
    // oracle as ev_funnel/stream_funnel.
    Gate("stream_funnel_late", (s, dir) => {
      graft.streaming.StreamingFunnel.replayBatchLate(
        Tables(s, dir, "events"), Seq("view", "click", "purchase"),
        disorder = "24 hours", batches = streamReplayBatches)
    },
      // same oracle under genuine disorder — the watermark-buffered walk
      // drains exact below-watermark prefixes, so attainments equal batch
      EventGates.duckFunnelSql),

    // Structured-Streaming candle pipeline (flatMapGroupsWithState:
    // windowing + OHLC + gap-fill + carry-forward in one stateful op)
    // replayed over the events table via MemoryStream. Same oracle as
    // fx_candles — streaming output is bit-identical to batch by design.
    Gate("stream_candles", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      Candles.flatten(StreamingCandles.replayBatch(ticks, "1 hour",
          batches = streamReplayBatches))
        .select(col("key"), col("closeTime"), col("openStateTime"),
          col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
          col("minBidPrice"), col("maxBidPrice"), col("isLive"))
    },
      duckStreamCandlesSql,
      Some(Twin.HarnessFloor(candleFloor("0 seconds")))),

    // Out-of-order-arrival twin of stream_candles: every tick arrives up
    // to 24 h LATE (deterministic per-(key, ts) delay, so ~disorder/span
    // of the feed crosses micro-batch boundaries out of event order)
    // under a matching watermark delay. The slicing twins prove
    // slicing-invariance; this proves disorder-invariance WITHIN the
    // watermark — the shape a real feed actually has. Same oracle as
    // fx_candles: the late replay must still equal batch row-for-row.
    Gate("stream_candles_late", (s, dir) => {
      val ticks = Tables.eventsAsTicks(s, dir)
      Candles.flatten(StreamingCandles.replayBatch(ticks, "1 hour",
          batches = streamReplayBatches, disorder = "24 hours"))
        .select(col("key"), col("closeTime"), col("openStateTime"),
          col("closeStateTime"), col("minAskPrice"), col("maxAskPrice"),
          col("minBidPrice"), col("maxBidPrice"), col("isLive"))
    },
      // the disordered replay must produce byte-identical output — same
      // oracle, no weakening
      duckStreamCandlesSql,
      Some(Twin.HarnessFloor(candleFloor("24 hours")))),

    // Streaming sliding-window correlations (watermarked packet agg in
    // append mode + per-micro-batch pair join). Same oracle as fx_corr.
    Gate("stream_corr", (s, dir) => {
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
    },
      duckStreamCorrSql,
      Some(Twin.HarnessFloor(corrFloor("0 seconds")))),

    // Out-of-order-arrival twin of stream_corr (the same 24 h bounded
    // disorder as stream_candles_late, over the return-point replay into
    // the watermarked sliding packet agg): late points must land in
    // their open windows, and every emitted window's pair set must equal
    // the in-order replay's. Same oracle as fx_corr.
    Gate("stream_corr_late", (s, dir) => {
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
    },
      duckStreamCorrSql,
      Some(Twin.HarnessFloor(corrFloor("24 hours")))),

    // Streaming twin of fx_corr_topk — the BOUNDED dashboard shape of the
    // reference's correlation sink (Demo:313-348, per-timeslice
    // reporting): each closed window's top-3 partners per key, reduced
    // INSIDE the epoch that closed the window (append mode emits a
    // window's complete pair set in one micro-batch, so the per-window
    // top-k equals batch), sink volume bounded at windows×keys×k. The
    // exact round-to-6dp threshold runs in the same per-epoch transform,
    // before packing, so ranks are computed on exactly the reported pair
    // set. Same oracle as fx_corr_topk.
    Gate("stream_corr_topk", (s, dir) => {
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
    },
      // per-closed-window top-k reduced inside each epoch == batch
      FxGates.duckCorrTopkSql,
      Some(Twin.HarnessFloor(corrFloor("0 seconds")))),

    // Plain watermarked sliding-window aggregation in append mode over
    // the events replay — the canonical Structured Streaming building
    // block, bit-identical to the batch ev_sliding by construction.
    Gate("stream_sliding", (s, dir) => {
      graft.streaming.StreamingAgg.slidingReplayBatch(
        Tables(s, dir, "events"), "12 hours", "6 hours",
        batches = streamReplayBatches)
    },
      // same oracle as ev_sliding — streaming == batch by construction
      EventGates.duckSlidingSql),

    // Streaming session windows: the merging-window family (a session's
    // extent is data-dependent, so the state store merges windows as
    // events arrive) replayed with an advancing watermark; append mode
    // emits each session exactly once when the watermark passes its
    // close. Same oracle as batch ev_session.
    Gate("stream_session", (s, dir) => {
      graft.streaming.StreamingAgg.sessionReplayBatch(
        Tables(s, dir, "events"), "30 minutes",
        batches = streamReplayBatches)
    },
      // same oracle as ev_session — streaming == batch by construction
      EventGates.duckSessionSql),

    // Streaming exact dedup: first-seen-key emission over the events
    // replay (dropDuplicates keyed state; the online form of dedup_exact).
    // Global state ⇒ result equals batch DISTINCT on the dedup key.
    Gate("stream_dedup", (s, dir) => {
      StreamingDedup.replayBatch(Tables(s, dir, "events"),
          Seq("user_id", "event_type", "props"),
          batches = streamReplayBatches)
        .select(col("user_id"), col("event_type"), col("props"))
    },
      """SELECT DISTINCT user_id, event_type, props FROM events""".stripMargin),

    // Streaming co-occurrence twin: per-user item-SET state emits each
    // first sight and each unordered pair exactly once (set semantics —
    // arrival-order- and slicing-invariant); emissions fold to the
    // batch matrix. Same oracle as ev_cooccurrence.
    Gate("stream_cooccurrence", (s, dir) => {
      graft.streaming.StreamingCooccurrence.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // set-semantics emission fold == batch distinct self-join
      EventGates.duckCooccurrenceSql),

    // Streaming trending twin: incremental windowed counts (append mode,
    // one emission per closed window) + a final rank over the
    // dimension-sized emission. Same oracle as ev_trending.
    Gate("stream_trending", (s, dir) => {
      graft.streaming.StreamingAgg.trendingReplayBatch(
        Tables(s, dir, "events"), "6 hours", topK = 3,
        batches = streamReplayBatches)
    },
      // incremental window close + final dimension-sized rank == batch
      EventGates.duckTrendingSql),

    // The same relation computed by a genuine stream-stream inner join
    // with watermark-derived state eviction (the one join shape that
    // needs streaming machinery: both sides grow without bound). Replay
    // union equals the batch join — same oracle.
    Gate("stream_join", (s, dir) => {
      graft.streaming.StreamingJoin.replayBatch(Tables(s, dir, "events"),
        horizonMin = 60, batches = streamReplayBatches)
    },
      // stream-stream inner join over the replay == the batch join
      EventGates.duckAttributionSql),

    // Outer stream-stream join: the null-extended row for an unconverted
    // click emits exactly when the watermark proves no purchase can
    // still match (state eviction IS the emission trigger) — sentinel
    // tails flush the final horizon.
    Gate("stream_join_outer", (s, dir) => {
      graft.streaming.StreamingJoin.replayBatch(Tables(s, dir, "events"),
        horizonMin = 60, batches = streamReplayBatches,
        joinType = "left_outer")
    },
      // outer stream-stream join: eviction-triggered null rows == batch
      EventGates.duckAttributionOuterSql),

    // Online MinHash near-dup: documents replayed as an arriving stream,
    // each batch banded and joined against the append-only band index of
    // everything seen before — a pair emits exactly once, when its later
    // member arrives, so the result equals batch dedup_minhash (same
    // oracle) regardless of slicing. The ingest-pipeline dedup shape.
    Gate("stream_minhash", (s, dir) => {
      graft.streaming.StreamingNearDup.replayBatch(
        Tables(s, dir, "documents"), minJaccard = 0.5,
        batches = streamReplayBatches)
    },
      // same oracle as dedup_minhash — the streaming pair set equals the
      // batch one by construction (pair emits when its later member arrives)
      ("WITH " + DedupGates.duckMinhashCte +
        """
          |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin)),

    // Online exact-substring excision: each arriving doc cleaned against
    // the corpus seen so far via the append-only gram-key index; each doc
    // emits once, in its arrival epoch. Ascending-id replay ⇒ union of
    // epochs equals batch dedup_excise (same oracle).
    Gate("stream_excise", (s, dir) => {
      graft.streaming.StreamingSpanDedup.replayBatch(
        Tables(s, dir, "documents"), batches = streamReplayBatches)
    },
      // same oracle as dedup_excise — the streaming replay's per-epoch
      // union equals the batch excision regardless of slicing
      DedupGates.duckExciseSql),

    // Streaming weighted mixture: thresholds are scalars from table
    // stats (the production re-balance policy); membership is then a
    // stateless row-local test, so the documents replayed as an arriving
    // stream accept EXACTLY the batch row set — one streaming query over
    // the union, each row tested against its own source's threshold.
    // Same oracle as sample_mixture by construction.
    Gate("stream_mixture", (s, dir) => {
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
    },
      // identical oracle: the replay accepts exactly the batch row set
      // (thresholds are table-stats scalars; membership is row-local)
      LayoutGates.duckMixtureSql),

    // Streaming chunker twin: chunking is a row-local transform +
    // explode, so the replayed stream emits EXACTLY the batch chunk set
    // under any slicing — shares text_chunks' oracle by construction.
    Gate("stream_chunks", (s, dir) => {
      val staged = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("__ts", timestamp_micros(col("doc_id")))
      val (chunk, _, _) =
        FileReplay.timeChunks(staged, "__ts", streamReplayBatches)
      val root = FileReplay.stage(staged, chunk, Seq.empty)
      FileReplay.run(s, root, staged.schema) { src =>
        TextAnalysis.chunk(src, width = 64, stride = 48)
      }.select(col("doc_id"), col("chunk_id"), col("start_tok"),
        col("n_tokens"), col("chunk_text"))
    },
      // identical oracle: chunking is row-local, so the replayed stream
      // emits exactly the batch chunk set
      TextGates.duckChunksSql),

    // Streaming ANN ingest twin: fixed offline quantizer, per-epoch
    // batch assignment appended to a persisted inverted-list index,
    // probe over the final index — row-local assignment makes the index
    // slicing-invariant. Same oracle as ann_ivf.
    Gate("stream_ann", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.streaming.StreamingAnnIngest.replayBatch(
          emb, emb.filter(col("vec_id") % 50 === 0), k = 5,
          batches = streamReplayBatches)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      // identical oracle — the streamed index content equals the batch
      // assignment for any slicing (row-local given the fixed quantizer)
      AnnGates.duckAnnIvfSql),

    // Online novelty twin: admission scoring at ingest against the shared
    // append-only gram index — novelty references only EARLIER docs, so
    // it is monotone-final at arrival and equals batch under any slicing.
    Gate("stream_novelty", (s, dir) => {
      graft.streaming.StreamingNovelty.replayBatch(
        Tables(s, dir, "documents"), batches = streamReplayBatches)
    },
      // identical oracle: the replayed score set equals batch corpusNovelty
      // under any slicing (novelty is monotone-final at arrival — see
      // StreamingNovelty scaladoc)
      DedupGates.duckNoveltySql),

    // Streaming inter-arrival twin: (type, day)-keyed last-arrival state
    // emits each gap in the epoch its successor arrives; the gap
    // multiset equals batch lag's for any slicing (the transitions
    // invariance argument). Same oracle as ev_interarrival.
    Gate("stream_interarrival", (s, dir) => {
      graft.streaming.StreamingInterarrival.replayBatch(
        Tables(s, dir, "events"), batches = streamReplayBatches)
    },
      // keyed-state gap emissions fold to batch lag's multiset
      EventGates.duckInterarrivalSql),

    // Drift-at-ingest twin: the reference side is fixed, the current
    // side arrives — per-epoch bin counts merge by a per-bin sum
    // (associative), so the streamed PSI equals the batch PSI under any
    // slicing and shares its oracle.
    Gate("stream_drift", (s, dir) => {
      val ev = Tables(s, dir, "events")
      graft.streaming.StreamingProfile.replayDrift(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "ts", "value", 0.0, 500.0, bins = 20,
        batches = streamReplayBatches)
    },
      // identical oracle: bin counts merge associatively, so the streamed
      // PSI equals the batch PSI under any slicing
      EventGates.duckDriftSql),

    // Streaming profile twin: per-epoch mergeable partials (counts,
    // ranges, HLL sketch per column), merged after replay. Every merge
    // component is associative+commutative, so the exact facts are
    // slicing-invariant — same oracle family as profile_events; the HLL
    // estimate column is spec-pinned (ProfilingSpec) and excluded here.
    Gate("stream_profile", (s, dir) => {
      graft.streaming.StreamingProfile.replayBatch(Tables(s, dir, "events"), "ts",
          Seq("user_id", "event_type", "value", "props"),
          batches = streamReplayBatches)
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_num"), col("max_num"))
    },
      // the streamed profile's exact facts — identical per-column form to
      // profile_events minus the (engine-specific) distinct estimate
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
        |       NULL, NULL FROM events""".stripMargin)
  )
}
