package graft

import java.sql.Timestamp

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.fixtures.SampleData
import graft.model.{ReturnPoint, Tick}
import graft.operators.{Candles, Correlations}
import graft.streaming.{FileReplay, StreamingCandles, StreamingCorrelations}

/** Batch ↔ streaming parity (SURVEY §5 plan item 4): the same input through
  * MemoryStream must produce byte-identical results to the batch operators.
  */
class StreamingSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("key", "windowStart").collect().toSeq

  test("streaming candles == batch candles on the 42-tick reference fixture") {
    val ticks = SampleData.dataset(spark).toDF()
    val batch = rows(Candles.aggregate(ticks, "120 seconds"))
    val stream = rows(StreamingCandles.replayBatch(ticks, "120 seconds"))
    assert(stream.size == batch.size, s"row counts: stream=${stream.size} batch=${batch.size}")
    stream.zip(batch).foreach { case (s, b) => assert(s == b, s"\nstream: $s\nbatch:  $b") }
  }

  test("streaming correlations == batch correlations on fixture returns") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val candles = Candles.aggregate(SampleData.dataset(spark).toDF(), "120 seconds")
    val returns = Correlations.logReturns(candles).filter(col("ret").isNotNull)
    val pts = returns.as[ReturnPoint].collect().toSeq
    val maxTs = pts.map(_.ts.getTime).max

    val batch = Correlations.correlate(returns.toDF(),
        "600 seconds", "300 seconds", minCorr = 0.0, propagateNaN = true)
      .orderBy("windowStart", "key1", "key2").collect().toSeq

    val ms = MemoryStream[ReturnPoint]
    val got = ListBuffer.empty[Row]
    val q = StreamingCorrelations.start(ms.toDF(),
        "600 seconds", "300 seconds", minCorr = 0.0, propagateNaN = true) { df =>
      got.synchronized { got ++= df.collect() }
    }
    try {
      ms.addData(pts); q.processAllAvailable()
      // two watermark bumps: close all real windows, then flush the last batch
      ms.addData(ReturnPoint("__WM__", new Timestamp(maxTs + 1200000L), 0.0))
      q.processAllAvailable()
      ms.addData(ReturnPoint("__WM__", new Timestamp(maxTs + 1201000L), 0.0))
      q.processAllAvailable()
    } finally q.stop()

    val stream = got.filter(r => r.getString(2) != "__WM__" && r.getString(3) != "__WM__")
      .sortBy(r => (r.getTimestamp(0).getTime, r.getString(2), r.getString(3)))
      .toSeq
    assert(stream.size == batch.size, s"row counts: stream=${stream.size} batch=${batch.size}")
    stream.zip(batch).foreach { case (s, b) => assert(s == b, s"\nstream: $s\nbatch:  $b") }
  }

  test("transformWithState candle state is EVICTED as the watermark closes windows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 2 keys × 30 windows (120 s resolution), one tick per window, fed in
    // order so the watermark closes windows as it advances; then one
    // far-future tick per key fires every pending timer. The 100 TB
    // streaming guarantee is EVICTION: per-key state must hold only the
    // still-open window's bucket plus the fixed carry, never the history.
    def t(s: Int) = new Timestamp(1451577600000L + s * 1000L)
    val ms = MemoryStream[Tick]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_evict").toString
    val q = FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs) {
      StreamingCandles.candles(ms.toDF(), "120 seconds")
        .writeStream.outputMode("append").format("noop")
        .option("checkpointLocation", ckpt).start()
    }
    try {
      for (w <- 0 until 30) {
        ms.addData(
          Tick("A", t(w * 120 + 5), Some(1.0 + w), Some(2.0 + w), isLive = true),
          Tick("B", t(w * 120 + 7), Some(3.0 + w), Some(4.0 + w), isLive = true))
        if (w % 10 == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      ms.addData(
        Tick("A", t(3600 * 24), Some(1.0), Some(2.0), isLive = true),
        Tick("B", t(3600 * 24), Some(3.0), Some(4.0), isLive = true))
      q.processAllAvailable()
    } finally q.stop()
    // end-state read through the public state data source: the buckets
    // MapState must hold ONLY each key's still-open far-future window —
    // broken eviction would retain ~31 entries per key here
    val buckets = spark.read.format("statestore")
      .option("stateVarName", "buckets").load(ckpt)
    assert(buckets.count() <= 2,
      s"buckets state not evicted: ${buckets.count()} entries retained")
    // the carry is the FIXED per-key remainder (one row per key)
    val carry = spark.read.format("statestore")
      .option("stateVarName", "carry").load(ckpt)
    assert(carry.count() == 2, s"carry rows: ${carry.count()}")
  }

  test("streaming bounded top-k == batch topPartnersPacked under any slicing") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // 6 keys over 2 hours at 5-min spacing; mixed sign, 6dp-exact values
    val pts = for { k <- 1 to 6; i <- 0 until 24 } yield
      ReturnPoint(s"U$k", t(i * 5),
        math.rint((math.sin(i * 0.7 + k) + (k - 3) * 0.1) * 1e6) / 1e6)
    val returns = pts.toDF()
    def pack(df: org.apache.spark.sql.DataFrame) =
      Correlations.topPartnersPacked(
        df.withColumn("r", round(col("corr"), 6))
          .filter(abs(col("r")) >= 0.5), 3,
        expr("cast(substring(key1, 2) as bigint)"),
        expr("cast(substring(key2, 2) as bigint)"),
        id => concat(lit("U"), id.cast("string")))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val batch = norm(pack(Correlations.correlate(returns,
      "600 seconds", "300 seconds", minCorr = 0.0)))
    assert(batch.nonEmpty)
    for (b <- Seq(2, 4)) {
      val stream = norm(StreamingCorrelations.replayBatch(returns,
        "600 seconds", "300 seconds", minCorr = 0.0, batches = b,
        post = pack))
      assert(stream == batch, s"slicing $b diverged from batch top-k")
    }
  }

  test("globally empty windows: grid-aware replay == batch; live contract fills all") {
    import spark.implicits._
    // two keys, ticks in windows 0 and 3 only — windows 1 and 2 are
    // GLOBALLY empty. Batch (reference semantics: fill only observed
    // windows) emits 2 keys x 2 windows. The grid-aware replay (default)
    // must now equal batch EXACTLY — rows, carry values AND carry
    // timestamps — because emission skips the unobserved windows without
    // touching the carry chain. gridAware=false restores the live-feed
    // contract (empty candles publish on schedule: 2 keys x 4 windows);
    // both semantics stay pinned so neither can silently drift.
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val ticks = Seq(
      Tick("A", t(0), Some(1.0), Some(1.0), isLive = true),
      Tick("B", t(1), Some(2.0), Some(2.0), isLive = true),
      Tick("A", t(6), Some(3.0), Some(3.0), isLive = true),
      Tick("B", t(7), Some(4.0), Some(4.0), isLive = true)).toDF()
    val batch = Candles.aggregate(ticks, "120 seconds")
    val stream = StreamingCandles.replayBatch(ticks, "120 seconds", batches = 2)
    assert(batch.count() == 4, s"batch fills observed windows only")
    // full-row equality, carry stamps included — the whole point of the grid
    val cols = batch.columns.map(col).toSeq
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols: _*).orderBy("key", "windowStart").collect().toSeq
    assert(canon(stream) == canon(batch),
      s"\nstream: ${canon(stream)}\nbatch:  ${canon(batch)}")
    val live = StreamingCandles.replayBatch(ticks, "120 seconds", batches = 2,
      gridAware = false)
    assert(live.count() == 8, s"live contract publishes every window on schedule")
  }

  test("out-of-order arrival within the watermark: candles & corr == batch") {
    import spark.implicits._
    // disorder mode delays each event a deterministic amount ≤ the bound
    // and runs the query with a matching watermark delay — events cross
    // micro-batch boundaries out of EVENT order (the disorder a real feed
    // has, which in-order slicing never exercises) yet nothing may drop
    // and output must stay byte-identical to batch. Disorder of 3 windows
    // across 4 slices of a ~40 min fixture guarantees boundary crossings.
    val ticks = SampleData.dataset(spark).toDF()
    val batch = rows(Candles.aggregate(ticks, "120 seconds"))
    val late = rows(StreamingCandles.replayBatch(ticks, "120 seconds",
      batches = 4, disorder = "360 seconds"))
    assert(late == batch, s"\nlate:  $late\nbatch: $batch")

    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val pts = for { k <- 1 to 6; i <- 0 until 24 } yield
      ReturnPoint(s"U$k", t(i * 5),
        math.rint((math.sin(i * 0.7 + k) + (k - 3) * 0.1) * 1e6) / 1e6)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val corrBatch = norm(Correlations.correlate(pts.toDF(),
      "600 seconds", "300 seconds", minCorr = 0.0))
    assert(corrBatch.nonEmpty)
    val corrLate = norm(StreamingCorrelations.replayBatch(pts.toDF(),
      "600 seconds", "300 seconds", minCorr = 0.0, batches = 4,
      disorder = "600 seconds"))
    assert(corrLate == corrBatch, s"disordered corr replay diverged from batch")
  }

  test("streaming session windows == batch session_window over a replay") {
    import spark.implicits._
    // three users: bursts separated by > gap, one lonely single-event
    // session, a burst straddling two replay chunks
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val events = Seq(
      (1L, t(0), 1.0), (1L, t(5), 2.0), (1L, t(9), 3.0),   // session A
      (1L, t(60), 4.0),                                    // session B (solo)
      (2L, t(2), 5.0), (2L, t(33), 6.0), (2L, t(40), 7.0), // gap=30m splits
      (3L, t(90), 8.0), (3L, t(95), 9.0))
      .toDF("user_id", "ts", "value")

    val batch = events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("sum_v"))
      .orderBy("user_id", "session_start").collect().toSeq

    val stream = graft.streaming.StreamingAgg
      .sessionReplayBatch(events, "30 minutes", batches = 4)
      .orderBy("user_id", "session_start").collect().toSeq

    assert(batch.nonEmpty && stream == batch,
      s"\nstream: $stream\nbatch:  $batch")
  }

  test("streaming ANN ingest == batch ivfTopK for any arrival slicing") {
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001",
      "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val batch = graft.operators.Similarity.ivfTopK(emb, qs, 5)
      .orderBy("q_id", "rk").collect().toSeq
    for (b <- Seq(2, 5)) {
      val stream = graft.streaming.StreamingAnnIngest
        .replayBatch(emb, qs, k = 5, batches = b)
        .orderBy("q_id", "rk").collect().toSeq
      assert(batch.nonEmpty && stream == batch,
        s"batches=$b\nstream: ${stream.take(5)}\nbatch:  ${batch.take(5)}")
    }
  }

  test("streaming CDC snapshot == batch latestSnapshot, any slicing") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // per-user changelogs: out-of-epoch winners, a winning delete, a
    // delete-then-reinsert, and an equal-ts tie broken by event_id
    val events = Seq(
      (1L, t(0), 10L, "view", 1.0), (1L, t(90), 11L, "click", 2.0),
      (1L, t(30), 12L, "view", 3.0),                      // stale vs t(90)
      (2L, t(5), 13L, "view", 4.0), (2L, t(95), 14L, "error", 0.0), // deleted
      (3L, t(1), 15L, "error", 0.0), (3L, t(80), 16L, "purchase", 5.0),
      (4L, t(50), 17L, "view", 6.0), (4L, t(50), 18L, "click", 7.0) // tie
    ).toDF("user_id", "ts", "event_id", "event_type", "value")

    val batch = graft.operators.Cdc.latestSnapshot(events, Seq("user_id"),
        col("ts"), col("event_id"), col("event_type") === "error",
        Seq("last_type" -> col("event_type"),
          "last_value" -> round(col("value"), 4)))
      .orderBy("user_id").collect().toSeq
    for (b <- Seq(2, 5)) {
      val stream = graft.streaming.StreamingCdc.replayBatch(events, batches = b)
        .orderBy("user_id").collect().toSeq
      assert(stream == batch, s"batches=$b\nstream: $stream\nbatch:  $batch")
    }
    assert(batch.map(_.getLong(0)) == Seq(1L, 3L, 4L), s"shape: $batch")
  }

  test("disorder twins: CDC and buffered funnel == batch under out-of-order replay") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val stages = Seq("view", "click", "purchase")
    // 30 users with 3-minute stage spacing over a 300-minute span; the
    // 30-minute disorder bound is 10x the spacing, so arrival order
    // scrambles heavily. Users u%3==1 skip the click: purchase must NOT
    // count (order sensitivity — an unbuffered walk that sees the
    // purchase early would miss even the batch-reachable attainments).
    val events = (0L until 30L).flatMap { u =>
      val base = (10 * u).toInt
      if (u % 3 == 1)
        Seq((u, t(base), 100 + u, "view", 1.0),
          (u, t(base + 6), 300 + u, "purchase", 3.0))
      else
        Seq((u, t(base), 100 + u, "view", 1.0),
          (u, t(base + 3), 200 + u, "click", 2.0),
          (u, t(base + 6), 300 + u, "purchase", 3.0))
    }.toDF("user_id", "ts", "event_id", "event_type", "value")

    // the disorder slicing must genuinely invert event order somewhere
    val (_, lo, hi) = graft.streaming.FileReplay.timeChunks(events, "ts", 5)
    val lab = events.select(unix_micros(col("ts")).as("m"),
        graft.streaming.FileReplay.disorderChunksFor("ts",
          Seq(col("user_id"), col("event_type")), lo, hi, 5,
          30L * 60 * 1000000).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lab.exists { case (m1, c1) =>
      lab.exists { case (m2, c2) => m1 < m2 && c1 > c2 } },
      "disorder slicing produced no event-order inversion — test is vacuous")

    val batchFunnel = graft.operators.Behavior.funnel(events, stages)
      .orderBy("stage_idx").collect().toSeq
    val batchCdc = graft.operators.Cdc.latestSnapshot(events, Seq("user_id"),
        col("ts"), col("event_id"), col("event_type") === "error",
        Seq("last_type" -> col("event_type"),
          "last_value" -> round(col("value"), 4)))
      .orderBy("user_id").collect().toSeq
    for (b <- Seq(2, 5)) {
      val late = graft.streaming.StreamingFunnel.replayBatchLate(events,
          stages, disorder = "30 minutes", batches = b)
        .orderBy("stage_idx").collect().toSeq
      assert(late == batchFunnel, s"batches=$b\nlate:  $late\nbatch: $batchFunnel")
      val cdcLate = graft.streaming.StreamingCdc.replayBatch(events,
          batches = b, disorder = "30 minutes")
        .orderBy("user_id").collect().toSeq
      assert(cdcLate == batchCdc, s"batches=$b cdc\nlate:  $cdcLate\nbatch: $batchCdc")
    }
    // shape sanity: everyone views, only the 20 full walkers convert
    assert(batchFunnel.map(_.getLong(2)) == Seq(30L, 20L, 20L), batchFunnel)
  }

  test("stream-stream attribution join == batch join, pairs straddling epochs") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // clicks and purchases interleaved so pairs span replay slices; one
    // purchase exactly at the horizon boundary (excluded: [t, t+60)), one
    // purchase before any click (unmatched), one user with 2x2 pairs
    val events = Seq(
      (10L, t(0), 1L, "click", 0.0), (11L, t(30), 1L, "purchase", 1.0),
      (12L, t(59), 1L, "click", 0.0), (13L, t(90), 1L, "purchase", 1.0),
      (14L, t(5), 2L, "purchase", 1.0), (15L, t(10), 2L, "click", 0.0),
      (16L, t(70), 2L, "purchase", 1.0),                  // t(10)+60 → excluded
      (17L, t(65), 2L, "purchase", 1.0),                  // inside horizon
      (18L, t(20), 3L, "click", 0.0)                      // never converts
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.operators.Behavior.attribution(events, horizonMin = 60)
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(batch.map(r => (r.getLong(1), r.getLong(2))) ==
      Seq((10L, 11L), (12L, 13L), (15L, 17L)), s"batch: $batch")
    for (b <- Seq(2, 5)) {
      val stream = graft.streaming.StreamingJoin.replayBatch(events,
          horizonMin = 60, batches = b)
        .orderBy("click_id", "purchase_id").collect().toSeq
      assert(stream == batch, s"batches=$b\nstream: $stream\nbatch:  $batch")
    }
    // left-outer: unconverted clicks surface as null-extended rows emitted
    // on state eviction; sentinel tails flush the final horizon
    val batchOuter = graft.operators.Behavior.attribution(events,
        horizonMin = 60, joinType = "left_outer")
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(batchOuter.size == batch.size + 1 &&
      batchOuter.exists(r => r.getLong(1) == 18L && r.isNullAt(2)),
      s"expected one null-extended row for click 18: $batchOuter")
    val streamOuter = graft.streaming.StreamingJoin.replayBatch(events,
        horizonMin = 60, batches = 3, joinType = "left_outer")
      .orderBy("click_id", "purchase_id").collect().toSeq
    assert(streamOuter == batchOuter,
      s"outer stream: $streamOuter\nouter batch: $batchOuter")
  }

  test("streaming SCD-2 == batch scd2: versions closing across epochs") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // versions that close within an epoch, across epochs, never; a delete
    // closure; delete-then-reinsert; a same-ts tie chain
    val events = Seq(
      (1L, t(0), 10L, "view", 1.0), (1L, t(3), 11L, "click", 2.0),
      (1L, t(80), 12L, "view", 3.0),                       // closes across
      (2L, t(5), 13L, "view", 4.0), (2L, t(95), 14L, "error", 0.0),
      (3L, t(1), 15L, "error", 0.0), (3L, t(70), 16L, "purchase", 5.0),
      (4L, t(50), 17L, "view", 6.0), (4L, t(50), 18L, "click", 7.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")

    val batch = graft.operators.Cdc.scd2(events, Seq("user_id"),
        col("ts"), col("event_id"), col("event_type") === "error",
        Seq("etype" -> col("event_type"), "val" -> round(col("value"), 4)))
      .select("user_id", "valid_from", "valid_to", "is_current", "etype", "val")
      .orderBy("user_id", "valid_from", "etype").collect().toSeq
    for (b <- Seq(2, 4)) {
      val stream = graft.streaming.StreamingScd2
        .replayBatch(events, batches = b)
        .select("user_id", "valid_from", "valid_to", "is_current", "etype", "val")
        .orderBy("user_id", "valid_from", "etype").collect().toSeq
      assert(stream == batch, s"batches=$b\nstream: $stream\nbatch:  $batch")
    }
  }

  test("online near-dup == batch minHashLsh, pairs straddling batch splits") {
    import spark.implicits._
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    // near-dups placed in DIFFERENT replay slices (ids far apart) and one
    // within-slice pair; fillers are dissimilar
    val docs = (Seq(
      (1L, near),
      (2L, near + " truly"),                        // within-slice pair with 1
      (99L, near + " okay")) ++                     // cross-slice pair with 1, 2
      (10L to 60L by 10).map(i =>
        (i, s"completely unrelated filler text number $i about spark plans " +
          s"and shuffle exchanges variant $i"))).toDF("doc_id", "text")

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jac").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

    val batch = norm(graft.operators.Dedup.minHashLsh(docs, minJaccard = 0.3))
    val stream = norm(graft.streaming.StreamingNearDup.replayBatch(
      docs, minJaccard = 0.3, batches = 3))
    assert(batch.nonEmpty, "fixture must contain near-dup pairs")
    assert(batch.exists { case (a, b, _) => b == 99L && a < 99L },
      "fixture must contain a cross-slice pair")
    assert(stream == batch, s"\nstream: $stream\nbatch:  $batch")
  }

  test("online span excision == batch exciseDuplicateSpans across slices") {
    import spark.implicits._
    val span = "alpha beta gamma delta epsilon"
    val docs = (Seq(
      (1L, span + " one two"),                 // owns the first occurrence
      (2L, "x " + span + " y"),                // within-slice duplicate
      (99L, span + " tail words here")) ++     // cross-slice duplicate
      (10L to 60L by 10).map(i =>
        (i, s"filler number $i about other things entirely item $i")))
      .toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_removed", "text_clean")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
    val batch = norm(graft.operators.Dedup
      .exciseDuplicateSpans(docs, w = 3))
    val stream = norm(graft.streaming.StreamingSpanDedup.replayBatch(
      docs, w = 3, batches = 3))
    assert(batch.exists(_._3 > 0), "fixture must excise something")
    assert(batch.find(_._1 == 1L).exists(_._3 == 0L),
      "first owner must keep its span")
    assert(stream.find(_._1 == 99L).exists(_._3 > 0L),
      "cross-slice duplicate must be cut against the index")
    assert(stream == batch, s"\nstream: $stream\nbatch:  $batch")
  }

  test("online novelty == batch corpusNovelty across slices") {
    import spark.implicits._
    val span = "alpha beta gamma delta epsilon"
    val docs = (Seq(
      (1L, span + " one two"),                 // owns the grams → novelty 1
      (2L, "x " + span + " y"),                // within-slice staleness
      (99L, span + " tail words here")) ++     // cross-slice staleness
      (10L to 60L by 10).map(i =>
        (i, s"filler number $i about other things entirely item $i")))
      .toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_pos", "n_stale_pos", "novelty")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    val batch = norm(graft.operators.Dedup
      .corpusNovelty(docs, w = 3))
    assert(batch.find(_._1 == 1L).exists(_._4 == 1.0),
      "first owner must be fully novel")
    assert(batch.find(_._1 == 99L).exists(_._3 > 0L),
      "fixture must contain cross-slice staleness")
    for (b <- Seq(3, 5)) {
      val stream = norm(graft.streaming.StreamingNovelty.replayBatch(
        docs, w = 3, batches = b))
      assert(stream == batch, s"batches=$b\nstream: $stream\nbatch:  $batch")
    }
  }

  test("span-excision gram index stays bounded under a 32-batch replay") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val span = "alpha beta gamma delta epsilon"
    val docs = (Seq(
      (1L, span + " one two"),
      (990L, span + " tail words here")) ++      // far cross-slice duplicate
      (10L to 960L by 10).map(i =>
        (i, s"filler number $i about other things entirely item $i")))
      .toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_tokens", "n_removed", "text_clean")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).sortBy(_._1).toSeq
    var idxDirs = -1
    def countIdx(root: Path): Int = {
      val s = Files.list(root.resolve("idx"))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.matches("(epoch|compact)_\\d+"))
      finally s.close()
    }
    val batch = norm(graft.operators.Dedup
      .exciseDuplicateSpans(docs, w = 3))
    val stream = norm(graft.streaming.StreamingSpanDedup.replayBatch(
      docs, w = 3, batches = 32, compactEvery = 4,
      inspect = { root => idxDirs = countIdx(root) }))
    assert(stream == batch, s"\nstream: $stream\nbatch:  $batch")
    assert(stream.find(_._1 == 990L).exists(_._3 > 0L),
      "far cross-slice duplicate must be cut against the compacted index")
    // 32 epochs at compactEvery=4: the listing never exceeds compactEvery
    // live dirs + the current epoch's own append
    assert(idxDirs >= 0 && idxDirs <= 5, s"idx dirs = $idxDirs")
  }

  test("near-dup band index stays bounded under a 32-batch replay (compaction)") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = (Seq(
      (1L, near),
      (2L, near + " truly"),
      (990L, near + " okay")) ++                    // far cross-slice pair
      (10L to 960L by 10).map(i =>
        (i, s"completely unrelated filler text number $i about spark plans " +
          s"and shuffle exchanges variant $i"))).toDF("doc_id", "text")

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jac").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted

    var idxDirs = -1
    def countIdx(root: Path, name: String): Int = {
      val s = Files.list(root.resolve(name))
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.matches("(epoch|compact)_\\d+"))
      finally s.close()
    }
    val batch = norm(graft.operators.Dedup.minHashLsh(docs, minJaccard = 0.3))
    val stream = norm(graft.streaming.StreamingNearDup.replayBatch(
      docs, minJaccard = 0.3, batches = 32, compactEvery = 4,
      inspect = { root => idxDirs = countIdx(root, "idx") }))
    assert(stream == batch, s"\nstream: $stream\nbatch:  $batch")
    // 32 epochs at compactEvery=4: the listing never exceeds compactEvery
    // live dirs + the current epoch's own append
    assert(idxDirs >= 0 && idxDirs <= 5, s"idx dirs = $idxDirs")
  }

  test("streaming-ingest curation: survivors and curated set match batch") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup, TextAnalysis}
    // the end-to-end streaming-ingest story: documents ARRIVE through the
    // online near-dup path, then the same survivor/quality/decontamination
    // stages run — the curated set must equal batch Curation.curate on the
    // same pool, regardless of how the stream was sliced
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = (Seq(
      (1L, near),
      (2L, near + " truly"),                 // within-slice near-dup of 1
      (99L, near + " okay")) ++              // cross-slice near-dup of 1, 2
      (10L to 90L by 10).map(i =>
        (i, s"some reasonably long filler document number $i with enough " +
          s"plain words to pass a quality floor and variant token $i")))
      .toDF("doc_id", "text")
    val bench = Seq((1000L, s"plain words to pass a quality floor"))
      .toDF("bench_id", "text")

    val batchCurated = Curation.curate(docs, bench, minJaccard = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    // same composition, dedup stage fed by the ONLINE pair stream
    val streamPairs = graft.streaming.StreamingNearDup
      .replayBatch(docs, minJaccard = 0.3, batches = 3)
    val surv = Dedup.survivors(docs, streamPairs.select("id1", "id2"))
    val contaminated = TextAnalysis.contamination(surv, bench)
      .select("doc_id").distinct()
    val streamCurated = TextAnalysis.quality(surv)
      .filter(col("quality_score") >= 0.45)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    assert(batchCurated.nonEmpty, "fixture must keep some documents")
    assert(batchCurated.size < docs.count(),
      "fixture must drop some documents (dedup or contamination)")
    assert(streamCurated == batchCurated,
      s"\nstream: $streamCurated\nbatch:  $batchCurated")
  }

  test("streaming mixture == batch mixture: membership is row-local per epoch") {
    import spark.implicits._
    import graft.operators.Sampling
    import graft.streaming.FileReplay
    val mk = (base: Long, sz: Int) => (0 until sz).map(i => base + i).toDF("doc_id")
    val sources = Seq("c0" -> mk(0L, 2000), "c1" -> mk(100000L, 300),
      "c2" -> mk(200000L, 500))
    val weights = Seq(600L, 300L, 100L)
    val batch = Sampling.mixture(sources, weights)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // thresholds are scalars from table stats (the production re-balance
    // policy); membership is then a stateless per-row test — so a replay
    // sliced into epochs must accept EXACTLY the batch row set
    val th = Sampling.mixtureThresholds(sources, weights).toMap
    val streamed = sources.map { case (name, df) =>
      val staged = df.withColumn("__ts", timestamp_micros(col("doc_id")))
      val (chunk, _, _) = FileReplay.timeChunks(staged, "__ts", 3)
      val root = FileReplay.stage(staged, chunk, Seq.empty)
      FileReplay.run(spark, root, staged.schema) { src =>
        src.filter(Sampling.mixtureAccept(name, th(name),
            col("doc_id").cast("long")))
          .select(lit(name).as("source"), col("doc_id").cast("long").as("doc_id"))
      }.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    }.reduce(_ ++ _)
    assert(batch.nonEmpty && streamed == batch,
      s"stream/batch diverge: ${streamed.size} vs ${batch.size} rows")
  }

  test("stateful query resumes from checkpoint across restarts (exactly-once)") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import graft.streaming.{FileReplay, StreamingAgg}

    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val events = (0 until 48).map { i =>
      (t(i * 7), s"et${i % 3}", i * 1.5)
    }.toDF("ts", "event_type", "value")

    val batch = events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("__cents"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        expr("(__cents * 20000 + n) div (n * 2)").as("avg_micro"))
      .orderBy("wstart", "event_type").collect().toSeq

    // stage a 6-slice replay, then hold back the last 4 files (incl. both
    // watermark sentinels) so the first query run stops mid-stream
    val (chunk, _, hi) = FileReplay.timeChunks(events, "ts", 6)
    val sentinelTs = hi + 2 * graft.streaming.StreamingCandles.durationMicros("1 hour")
    def sentinel(off: Long) = Seq(
      (new Timestamp(sentinelTs / 1000 + off), "__WM__", 0.0))
      .toDF("ts", "event_type", "value")
    val root = FileReplay.stage(events, chunk, Seq(sentinel(0), sentinel(1000)))
    val srcDir = root.resolve("src")
    val holdDir = root.resolve("held")
    Files.createDirectories(holdDir)
    def ls(d: Path) = {
      val s = Files.list(d); try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
    }
    val held = ls(srcDir).takeRight(4)
    val mtimes = held.map(f => f.getFileName.toString -> f.toFile.lastModified).toMap
    held.foreach(f => Files.move(f, holdDir.resolve(f.getFileName)))

    val out = root.resolve("out2").toString
    val ckpt = root.resolve("ckpt2").toString
    def runOnce(): Unit = {
      val q = StreamingAgg.sliding(
          FileReplay.source(spark, root, events.schema), "1 hour", "30 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // consumes the first 4 slices, checkpoints offsets + state

    // release the held files (original mtimes → same trigger order) and
    // RESTART: the new query must resume from the checkpoint, not reprocess
    ls(holdDir).foreach { f =>
      val dest = srcDir.resolve(f.getFileName)
      Files.move(f, dest)
      dest.toFile.setLastModified(mtimes(f.getFileName.toString))
    }
    runOnce()

    val streamed = spark.read.parquet(out)
      .filter(col("event_type") =!= "__WM__")
      .orderBy("wstart", "event_type").collect().toSeq
    assert(streamed == batch,
      s"restart diverged from batch:\n${streamed.mkString("\n")}\nvs\n${batch.mkString("\n")}")
  }

  test("streaming dedup: global state == batch DISTINCT; bounded state re-emits stale keys") {
    import spark.implicits._
    def ts(minute: Int) = new Timestamp(SampleData.BaseMillis + minute * 60000L)
    // key K1 duplicated close together AND again 30 min later; K3 in
    // between advances the watermark so K1's state is evicted before the
    // late duplicate arrives (watermark only moves between micro-batches)
    val events = Seq(
      ("K1", "a", ts(0)), ("K1", "a", ts(1)), ("K2", "b", ts(2)),
      ("K3", "c", ts(20)), ("K4", "d", ts(25)), ("K1", "a", ts(30)))
      .toDF("k", "typ", "ts")

    val global = graft.streaming.StreamingDedup
      .replayBatch(events, Seq("k", "typ"), batches = 7)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(global.toSeq ==
      Seq(("K1", "a"), ("K2", "b"), ("K3", "c"), ("K4", "d")))

    // 5-minute state bound: the 30-min-later duplicate has been evicted
    // from state and is emitted again
    val bounded = graft.streaming.StreamingDedup
      .replayBatch(events, Seq("k", "typ"), batches = 7,
        withinWatermark = Some("5 minutes"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(bounded.toSeq ==
        Seq(("K1", "a"), ("K1", "a"), ("K2", "b"), ("K3", "c"), ("K4", "d")),
      s"expected the late duplicate re-emitted, got ${bounded.toSeq}")
  }

  test("candles leaves the session's state store provider unchanged") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    val default = spark.conf.get(key)
    try {
      val ms = MemoryStream[Tick]
      ms.addData(Tick("A", new Timestamp(SampleData.BaseMillis), Some(1.0),
        Some(1.0), isLive = true))
      // without the provider, Spark's own error at the first micro-batch
      // names only the unsupported default provider; candles names the
      // requirement before any query starts
      val e = intercept[IllegalArgumentException](
        StreamingCandles.candles(ms.toDF(), "120 seconds"))
      assert(e.getMessage.contains("needs the RocksDB state store provider"),
        e.getMessage)
      val q = FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs) {
        StreamingCandles.candles(ms.toDF(), "120 seconds")
          .writeStream.format("noop").start()
      }
      try q.processAllAvailable() finally q.stop()
      assert(spark.conf.get(key) == default,
        s"candles leaked a provider into the session: ${spark.conf.get(key)}")
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("time-driven gap-fill: idle key gets carried-forward synthetic candles") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def tick(key: String, minute: Int, v: Double): Tick =
      Tick(key, new Timestamp(SampleData.BaseMillis + minute * 60000L), Some(v), Some(v), isLive = true)

    val ms = MemoryStream[Tick]
    val name = "graft_gapfill_test"
    val q = FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs) {
      StreamingCandles.candles(ms.toDF(), "120 seconds").toDF()
        .writeStream.format("memory").queryName(name).outputMode("append").start()
    }
    try {
      ms.addData(tick("A", 0, 42.0), tick("A", 10, 7.0)) // windows 0 and 5
      q.processAllAvailable()
      ms.addData(tick("A", 12, 9.0)) // watermark → closes window 5
      q.processAllAvailable()
      ms.addData(tick("A", 12, 9.0))
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.table(name).orderBy("windowStart").collect()
    assert(out.length == 6, s"expected 6 candles (w0 live, w1-w4 gap, w5 live): ${out.length}")
    val live = out.map(_.getAs[Boolean]("isLive")).toSeq
    assert(live == Seq(true, false, false, false, false, true))
    // gap candles carry the last live close price in every slot
    out.slice(1, 5).foreach { r =>
      Seq("close", "minAsk", "maxAsk", "minBid", "maxBid").foreach { s =>
        assert(r.getAs[Row](s).getAs[Double]("askPrice") == 42.0, s"slot $s of $r")
      }
    }
    // and the live candle after the gap opens at the carried close
    assert(out(5).getAs[Row]("open").getAs[Double]("askPrice") == 42.0)
    assert(out(5).getAs[Row]("close").getAs[Double]("askPrice") == 7.0)
  }

  test("streaming seasonality == batch profile under any slicing") {
    import spark.implicits._
    def t(day: Int, h: Int, m: Int) = new java.sql.Timestamp(
      1704067200000L + ((day * 24L + h) * 60 + m) * 60000L)
    val events = (0 until 40).toList.map { i =>
      (i.toLong, t(i % 5, i % 7, i % 3), (i % 3).toLong,
        if (i % 2 == 0) "view" else "click", i.toDouble, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type", "how").collect().map(_.toSeq).toSeq
    val batch = norm(graft.operators.Behavior.seasonality(events))
    for (b <- Seq(2, 5)) {
      val stream = norm(
        graft.streaming.StreamingSeasonality.replay(events, batches = b))
      assert(stream == batch, s"slicing $b diverged")
    }
  }

  test("streaming rolling actives == batch under any slicing") {
    import spark.implicits._
    def d(day: Int, h: Int) = new java.sql.Timestamp(
      1704067200000L + (day * 24L + h) * 3600000L)
    val events = (0 until 30).toList.map { i =>
      (i.toLong, d(i % 6, i % 5), (i % 4).toLong, "view", 0.0, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("day").collect().map(_.toSeq).toSeq
    val batch = norm(graft.operators.Behavior.rollingActive(events, 3))
    for (b <- Seq(2, 4)) {
      val stream = norm(graft.streaming.StreamingActive.replay(
        events, windowDays = 3, batches = b))
      assert(stream == batch, s"slicing $b diverged")
    }
  }

  test("streaming co-occurrence == batch matrix under any slicing") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // users with overlapping but distinct item sets; repeats must not
    // double-count (set semantics)
    val events = Seq(
      (1L, t(0), 10L, "a", 0.0, ""), (2L, t(5), 10L, "b", 0.0, ""),
      (3L, t(50), 10L, "a", 0.0, ""), (4L, t(90), 10L, "c", 0.0, ""),
      (5L, t(1), 20L, "b", 0.0, ""), (6L, t(70), 20L, "c", 0.0, ""),
      (7L, t(2), 30L, "a", 0.0, "")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("item_a", "item_b").collect().map(_.toSeq).toSeq
    val batch = norm(graft.operators.Behavior.cooccurrence(events))
    for (b <- Seq(2, 4)) {
      val stream = norm(graft.streaming.StreamingCooccurrence
        .replayBatch(events, batches = b))
      assert(stream == batch, s"slicing $b diverged\n$stream\nvs\n$batch")
    }
  }

  test("streaming inter-arrival gaps == batch lag under any slicing") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    // two types, gaps straddling slice boundaries, a day boundary reset
    val events = Seq(
      (1L, t(0), 1L, "a", 0.0, ""), (2L, t(10), 1L, "a", 0.0, ""),
      (3L, t(45), 1L, "a", 0.0, ""), (4L, t(5), 1L, "b", 0.0, ""),
      (5L, t(80), 1L, "b", 0.0, ""),
      (6L, t(24 * 60 + 3), 1L, "a", 0.0, "") // next day: no cross-day gap
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("event_type").collect().map(_.toSeq).toSeq
    events.createOrReplaceTempView("__interarrival_ev")
    val batch = norm(spark.sql(
      """WITH d AS (
        |  SELECT event_type,
        |         unix_micros(ts) - lag(unix_micros(ts)) OVER (
        |           PARTITION BY event_type, CAST(ts AS DATE)
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM __interarrival_ev)
        |SELECT event_type, count(gap_us) AS n,
        |       round(avg(gap_us) / 1e6, 4) AS avg_secs,
        |       round(percentile(gap_us, 0.5) / 1e6, 4) AS p50_secs,
        |       round(percentile(gap_us, 0.9) / 1e6, 4) AS p90_secs
        |FROM d GROUP BY event_type""".stripMargin))
    for (b <- Seq(2, 4)) {
      val stream = norm(graft.streaming.StreamingInterarrival
        .replayBatch(events, batches = b))
      assert(stream == batch, s"slicing $b diverged\n$stream\nvs\n$batch")
    }
  }

  test("versioned ingest: retried and torn batches recommit idempotently") {
    import spark.implicits._
    import graft.streaming.StreamingVersionedIngest.commitBatch
    val dir = java.nio.file.Files.createTempDirectory("graft_tt_retry").toString
    val b0 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val b1 = Seq((3L, 30.0)).toDF("id", "v")
    assert(commitBatch(b0, dir, 0L) == 1)
    // retry of a COMMITTED batch: manifest exists, must be a no-op
    assert(commitBatch(b0.union(b0), dir, 0L) == 1)
    assert(graft.operators.Layout.readVersion(spark, dir, 1).count() == 2)
    // torn attempt: data dir for v2 written, crash before the manifest —
    // never visible; the re-arrival must clear and recommit it
    b1.write.parquet(s"$dir/v2")
    assert(commitBatch(b1, dir, 1L) == 2)
    val v2 = graft.operators.Layout.readVersion(spark, dir, 2)
    assert(v2.count() == 3, "v2 = union of both batches, exactly once")
    assert(v2.agg(sum(col("v"))).head().getDouble(0) == 60.0)
    // a batchId past Int.MaxValue must fail loudly, never wrap into a
    // colliding negative version
    intercept[ArithmeticException] {
      commitBatch(b1, dir, Int.MaxValue.toLong)
    }
  }

  test("versioned ingest: each version a consistent prefix; final == batch") {
    import spark.implicits._
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val events = (0 until 60).map { i =>
      (i.toLong, t(i), (i % 7).toLong, "view", i * 1.5, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    for (b <- Seq(2, 4)) {
      val (dir, last) = graft.streaming.StreamingVersionedIngest
        .ingest(events, batches = b)
      assert(last == b, s"expected $b commits, got $last")
      // versions are nested prefixes: ids in v(k) ⊆ v(k+1), counts strictly grow
      val perVersion = (1 to last).map { v =>
        graft.operators.Layout.readVersion(spark, dir, v)
          .select("event_id").as[Long].collect().toSet
      }
      perVersion.sliding(2).foreach { case Seq(a, bb) =>
        assert(a.subsetOf(bb) && a.size < bb.size, "not a growing prefix")
      }
      assert(perVersion.last == (0L until 60L).toSet, "final != batch")
    }
  }
}
