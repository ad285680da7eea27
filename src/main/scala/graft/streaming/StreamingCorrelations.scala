package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.ReturnPoint
import graft.operators.Correlations

/** Structured-Streaming sliding-window all-pairs Pearson correlation.
  *
  * Streaming shape of the reference's STEP 4-5
  * (`FXTimeSeriesPipelineDemo.java:270-348`):
  *
  *  1. the packet pivot — one finalized row per (sliding window, key) holding
  *     the ts-sorted return series — runs as a watermarked streaming
  *     aggregation in append mode (the reference's `GroupByKey` +
  *     `CreateWorkPacketsDoFn.java:41-98`). Append mode guarantees a window's
  *     packets are emitted exactly once, all in the micro-batch whose
  *     watermark passed the window end — so every pair partner is present in
  *     the same batch;
  *  2. the O(keys²) triangular pair-join + codegen Pearson + threshold/NaN
  *     policy runs per micro-batch via `foreachBatch`, reusing
  *     [[Correlations.correlatePackets]] verbatim — batch and streaming
  *     cannot drift semantically.
  *
  * `foreachBatch` (not a chained stateful operator) is the idiomatic Spark
  * pattern here: the pair-join is a pure batch computation over one window
  * slice and needs no state of its own, exactly like the reference computes
  * correlations from a fully-materialized per-window side input
  * (`View.asSingleton`, Demo:286-287).
  *
  * Scale notes: per micro-batch the join input is |keys| compact rows per
  * closed window — the quadratic pair space exists only inside whole-stage
  * codegen between join and threshold filter, as in the batch path. State
  * held by the streaming agg is one packet per (open window, key), evicted by
  * the watermark.
  */
object StreamingCorrelations {

  /** Append-mode stream of finalized per-(window, key) return packets. */
  def packetStream(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      watermarkDelay: String = "0 seconds"): DataFrame =
    Correlations.packets(
      returns.withWatermark("ts", watermarkDelay), windowSize, slide)

  /** Start the full streaming correlation pipeline; `sink` receives the
    * correlation rows (schema == batch [[Correlations.correlate]]) computed
    * from each micro-batch's finalized packets.
    *
    * `post` is a per-epoch transform applied between the pair join and the
    * sink — the seam for BOUNDED emission: because append mode closes each
    * window exactly once, with ALL its packets in the same micro-batch, a
    * per-(window, key) reduction of that window's complete pair set (e.g.
    * round + threshold + [[Correlations.topPartnersPacked]]) computed here
    * equals the batch computation — the streaming dashboard's top-k shape,
    * per closed timeslice, with the sink volume bounded at
    * windows × keys × k instead of the window's full surviving pair set.
    *
    * Contract note: the sink is invoked only for epochs that CLOSED at
    * least one window — empty epochs (before the watermark first crosses a
    * window end) skip the pair join entirely, so a sink must not rely on a
    * per-epoch invocation for side effects (progress markers, a
    * schema-establishing first write). Establish the output's existence
    * before starting the query if downstream readers need it.
    */
  def start(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      watermarkDelay: String = "0 seconds",
      minCorr: Double = 0.5,
      propagateNaN: Boolean = false,
      includeUnderlying: Boolean = false,
      joinParallelism: Option[Int] = None,
      post: DataFrame => DataFrame = identity)(sink: DataFrame => Unit): StreamingQuery =
    packetStream(returns, windowSize, slide, watermarkDelay)
      .writeStream
      .outputMode("append")
      .foreachBatch { (packets: DataFrame, _: Long) =>
        // pin this epoch's packets: the pair self-join reads them twice, and
        // re-executing a stateful streaming plan per side is both slow and
        // unsound; unpersist once the sink has consumed the batch
        val p = packets.persist()
        // the pair join is a plain batch job: when the streaming query runs
        // with few state partitions (replay harness), restore full shuffle
        // parallelism for the quadratic join it drives
        def consume(): Unit = sink(post(Correlations.correlatePackets(
          p, minCorr, propagateNaN, includeUnderlying)))
        // the count doubles as the pin's materialization; an epoch that
        // closed no windows (the stream's first batches, before the
        // watermark reaches a window end) skips planning + scheduling the
        // whole pair join — measured ~0.7 s of pure fixed cost per empty
        // epoch at sf0.1
        try if (p.count() > 0) joinParallelism match {
          case Some(n) => FileReplay.withStreamConfs(p.sparkSession,
            Map("spark.sql.shuffle.partitions" -> n.toString))(consume())
          case None => consume()
        }
        finally p.unpersist()
      }
      .start()

  /** Replay a bounded return-point table (key/ts/ret) through the streaming
    * pipeline via a time-sliced file source ([[FileReplay]]), accumulating
    * each micro-batch's correlations into a parquet dir, and return them as
    * a batch DataFrame. The slicing is one executor-side partitioned write.
    * Sentinel points two window-lengths past the data close every real
    * window without overlapping any (a lone key pairs with nothing, and is
    * filtered anyway). Like [[start]], the replay registers no [[Caches]]
    * pin: each epoch's packets are persisted and unpersisted in place.
    *
    * `boundsMicros` = known (lo, hi) event-time bounds of the non-null
    * return points, in micros. Without them the points are persisted
    * across a bounds aggregate (two values reach the driver) and the stage
    * write, then unpersisted.
    * When the caller can derive them arithmetically — e.g. from the raw
    * tick table's pushed-down parquet min/max plus the candle-window
    * arithmetic, as the gate does — the expensive upstream pipeline
    * (candles → log-returns) runs exactly ONCE, inside the chunked stage
    * write, instead of once more for the bounds aggregate. A production
    * replay knows its time domain the same way (retention window, partition
    * names, broker offsets); bounds must COVER the data or late rows are
    * dropped.
    */
  def replayBatch(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      minCorr: Double = 0.5,
      propagateNaN: Boolean = false,
      sentinelKey: String = "__WM__",
      batches: Int = 16,
      boundsMicros: Option[(Long, Long)] = None,
      post: DataFrame => DataFrame = identity,
      disorder: String = "0 seconds"): DataFrame = {
    val spark = returns.sparkSession
    val (root, ptsSchema) =
      replayStage(returns, windowSize, sentinelKey, batches, boundsMicros,
        StreamingCandles.durationMicros(disorder))

    val outDir = root.resolve("out").toString
    // few state partitions for the packet agg's tiny keyed state, full
    // parallelism restored inside foreachBatch for the quadratic pair join
    val joinParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    FileReplay.withStreamConfs(spark, FileReplay.baselineConfs) {
      val q = start(FileReplay.source(spark, root, ptsSchema),
        windowSize, slide, disorder, minCorr, propagateNaN,
        joinParallelism = Some(joinParts),
        post = post) {
        df => df.write.mode("append").parquet(outDir)
      }
      try q.processAllAvailable() finally q.stop()
    }
    // drop sentinel rows on whatever key columns the (possibly post-
    // transformed) output carries — pair schema has key1/key2, the bounded
    // top-k schema has key/partner. (Sentinels are a lone key and cannot
    // form a pair, so this is defensive either way.)
    val out = spark.read.parquet(outDir)
    out.schema.fieldNames.toSeq.intersect(
        Seq("key1", "key2", "key", "partner"))
      .foldLeft(out)((df, c) => df.filter(col(c) =!= sentinelKey))
  }

  /** Stage the replay input exactly as [[replayBatch]] feeds it: non-null
    * return points, time-sliced chunk column, doubled watermark sentinels
    * two window-lengths past the data. Shared by the real replay and the
    * [[replayHarnessFloor]] so the two stage byte-identical roots.
    */
  private def replayStage(
      returns: DataFrame,
      windowSize: String,
      sentinelKey: String,
      batches: Int,
      boundsMicros: Option[(Long, Long)],
      disorderMicros: Long = 0L)
      : (java.nio.file.Path, org.apache.spark.sql.types.StructType) = {
    val spark = returns.sparkSession
    import spark.implicits._
    val pts0 = returns.filter(col("ret").isNotNull)
      .select(col("key"), col("ts"), col("ret"))
    // with supplied bounds the pipeline is consumed once (by stage); with
    // derived bounds, pin it across the bounds aggregate + the stage write
    // or the whole upstream executes twice before the stream starts.
    // disorder mode slices by arrival time = event time + bounded
    // id-derived delay ([[FileReplay.disorderChunksFor]]); the caller runs
    // the query with a matching watermark delay so nothing drops
    def chunkFor(lo: Long, hi: Long) =
      if (disorderMicros > 0)
        FileReplay.disorderChunksFor("ts", Seq(col("key")), lo, hi, batches,
          disorderMicros)
      else FileReplay.chunksFor("ts", lo, hi, batches)
    val (pts, chunk, hiMicros, pinned) = boundsMicros match {
      case Some((lo, hi)) =>
        (pts0, chunkFor(lo, hi), hi, false)
      case None =>
        val p = pts0.persist()
        val (_, lo, hi) = FileReplay.timeChunks(p, "ts", batches)
        (p, chunkFor(lo, hi), hi, true)
    }
    val root = try {
      // sentinels sit `disorder` later still, so the final watermark
      // (max ts − disorder) clears every data window exactly as in-order
      val hi = hiMicros / 1000L + disorderMicros / 1000L
      val winMs = StreamingCandles.durationMicros(windowSize) / 1000L
      val sentinels = Seq(
        ReturnPoint(sentinelKey, new Timestamp(hi + 2 * winMs), 0.0),
        ReturnPoint(sentinelKey, new Timestamp(hi + 2 * winMs + 1000L), 0.0))
      FileReplay.stage(pts, chunk,
        sentinels.map(p => spark.createDataset(Seq(p)).toDF()))
    } finally if (pinned) pts.unpersist()
    (root, pts.schema)
  }

  /** The correlation replay's HARNESS FLOOR ([[FileReplay.harnessFloor]]):
    * stage the identical input, then run the kernel-free minimum streaming
    * query over it. [[graft.Bench]] times this next to the stream_corr /
    * stream_corr_topk gates and reports gate − floor as the production
    * kernel's cost (prodSec) — the r10 decomposition priced this floor at
    * ≈8-9 s of the ~18 s gate at sf0.1, all replay-side fixed cost a
    * standing production stream never pays per-window.
    */
  def replayHarnessFloor(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      sentinelKey: String = "__WM__",
      batches: Int = 16,
      boundsMicros: Option[(Long, Long)] = None,
      disorder: String = "0 seconds"): DataFrame = {
    val (root, schema) =
      replayStage(returns, windowSize, sentinelKey, batches, boundsMicros,
        StreamingCandles.durationMicros(disorder))
    FileReplay.harnessFloor(returns.sparkSession, root, schema)
  }
}
