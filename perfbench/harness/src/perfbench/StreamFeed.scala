package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.types.StructType

import graft.model.ReturnPoint
import graft.operators.{Candles, Correlations}
import graft.sources.Tables
import graft.streaming.{FileReplay, StreamingCorrelations}

/** The fx_stream workload: log-return points with a bounded arrival
  * disorder are staged as files at setup; a single generator thread then
  * releases them one per interval (an open loop) into the streaming
  * correlation pipeline, whose watermark matches the disorder bound.
  *
  * Raw facts only are recorded here — each file's due and release time,
  * each epoch's progress (commit time, source offset, phase durations,
  * state) and each sink call's per-window output fingerprint; latency,
  * backlog and the output check are computed from them afterwards.
  */
final class FxStream(dir: String, work: Path, chunks: Int, filesPerSec: Double,
    disorderHours: Int, warmFiles: Int, cores: Int) {

  private val windowSize = "6 hours"
  private val slide = "3 hours"
  private val watermark = s"$disorderHours hours"
  private var root: Path = _
  private var held: Seq[Path] = Nil
  private var schema: StructType = _

  /** Program-side staging: the return points, sliced by arrival time into
    * files, held back from the source directory until the feed releases
    * them.
    */
  def stage(spark: SparkSession): Map[String, Any] = {
    val t0 = System.nanoTime()
    val returns = Correlations.logReturns(
        Candles.aggregate(Tables.eventsAsTicks(spark, dir), "1 hour"))
      .filter(col("ret").isNotNull)
      .select(col("key"), col("ts"), col("ret"))
    // return-point bounds from the raw tick bounds, as the stream_corr gate
    // derives them, so staging runs the candle pipeline once
    val b = Tables(spark, dir, "events")
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val hourUs = 3600000000L
    val lo = Candles.closeTimeMicros(b.getLong(0), hourUs)
    val hi = Candles.closeTimeMicros(b.getLong(1), hourUs)
    val disorderUs = disorderHours * hourUs
    val chunk = FileReplay.disorderChunksFor("ts", Seq(col("key")), lo, hi,
      chunks, disorderUs)
    // two sentinels past the last window, later by the disorder bound, let
    // the final watermark close every data window
    val tail = (hi + disorderUs) / 1000L + 2 * 6 * 3600000L
    val sentinels = Seq(tail, tail + 1000L).map(t => spark.createDataFrame(
      Seq(ReturnPoint("__WM__", new Timestamp(t), 0.0))).toDF())
    root = FileReplay.stage(returns, chunk, sentinels)
    val stageS = (System.nanoTime() - t0) / 1e9
    schema = returns.schema
    val hold = Files.createDirectories(root.resolve("hold"))
    held = listFiles(root.resolve("src")).map { f =>
      Files.move(f, hold.resolve(f.getFileName))
    }
    Map("stage_s" -> stageS, "files" -> held.size)
  }

  /** Untimed warm-up: a query over copies of the first staged files. */
  def warmUp(spark: SparkSession): Seq[Map[String, Any]] = {
    val warmSrc = Files.createDirectories(work.resolve("warm").resolve("src"))
    held.take(warmFiles).foreach(f =>
      Files.copy(f, warmSrc.resolve(f.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val q = start(spark, warmSrc.getParent, warm, None)
    try q.processAllAvailable() finally q.stop()
    warm.toList
  }

  private def listFiles(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toList.sortBy(_.getFileName.toString) finally s.close()
  }

  private def start(spark: SparkSession, src: Path,
      sink: mutable.ArrayBuffer[Map[String, Any]],
      tracer: Option[Tracer]): StreamingQuery =
    FileReplay.withStreamConfs(spark, FileReplay.baselineConfs) {
      StreamingCorrelations.start(FileReplay.source(spark, src, schema),
          windowSize, slide, watermark, minCorr = 0.4999,
          joinParallelism = Some(cores)) { df =>
        val sc = df.sparkSession.sparkContext
        val batch = Option(sc.getLocalProperty("streaming.sql.batchId"))
          .map(_.toLong).getOrElse(-1L)
        val t0 = System.nanoTime()
        def windows(): Map[String, Any] = BatchWorkload.fingerprintBy(df,
          floor(unix_seconds(col("windowStart")) / 3600), BatchWorkload.pairAggs("corr"))
        val w = tracer match {
          case Some(t) => t.span(batch.toInt, "correlations")(windows())
          case None => windows()
        }
        sink.synchronized {
          sink += Map("batch" -> batch, "sink_ms" -> (System.nanoTime() - t0) / 1e6,
            "windows" -> w)
        }
        ()
      }
    }

  /** Release the staged files one per interval and record what happened. */
  def feed(spark: SparkSession, tracer: Option[Tracer]): Map[String, Any] = {
    val src = Files.createDirectories(root.resolve("src"))
    val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var consumed = -1L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val offset = Option(p.sources).filter(_.nonEmpty).map(_.head.endOffset)
          .flatMap(o => "\\d+".r.findFirstIn(Option(o).getOrElse(""))).map(_.toLong)
          .getOrElse(-1L)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val commit = Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L)
        val st = Option(p.stateOperators).getOrElse(Array.empty)
        progress.add(Map("batch" -> p.batchId, "offset" -> offset,
          "commit_ms" -> commit, "rows" -> p.numInputRows, "durations" -> d,
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_mem" -> st.map(_.memoryUsedBytes).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs).sum,
          "dropped_late" -> st.map(_.numRowsDroppedByWatermark).sum))
        if (offset > consumed) consumed = offset
      }
    }
    spark.streams.addListener(listener)
    val sink = mutable.ArrayBuffer.empty[Map[String, Any]]
    val n = held.size
    val due = new Array[Long](n)
    val released = new Array[Long](n)
    var gcMs = 0L
    val gc0 = Tracer.gcMillis()
    System.gc()
    val mem0 = HeapPeak.now()
    FileReplay.withStreamConfs(spark, FileReplay.baselineConfs) {
      val q = start(spark, root, sink, tracer)
      try {
        val ready = System.currentTimeMillis() + 10000L
        while (!Option(q.status.message).exists(_.startsWith("Waiting for data")) &&
            System.currentTimeMillis() < ready) Thread.sleep(5)
        val intervalMs = 1000.0 / filesPerSec
        val t0 = System.currentTimeMillis() + 100L
        val gen = new Thread(() => {
          var i = 0
          while (i < n) {
            due(i) = t0 + math.round(i * intervalMs)
            var wait = due(i) - System.currentTimeMillis()
            while (wait > 0) {
              LockSupport.parkNanos(wait * 1000000L)
              wait = due(i) - System.currentTimeMillis()
            }
            val f = src.resolve(held(i).getFileName)
            Files.move(held(i), f)
            val now = System.currentTimeMillis()
            if (!f.toFile.setLastModified(now))
              throw new IllegalStateException(s"setLastModified failed for $f")
            released(i) = now
            i += 1
          }
        }, "perfbench-feed")
        gen.start()
        val deadline = t0 + math.round(n * intervalMs) + 60000L
        while (consumed < n - 1 && q.exception.isEmpty &&
            System.currentTimeMillis() < deadline) Thread.sleep(5)
        gen.join()
        q.exception.foreach(e => throw e)
        gcMs = Tracer.gcMillis() - gc0
      } finally q.stop()
    }
    val memMb = HeapPeak.peakMb(mem0)
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.streams.removeListener(listener)
    Map("due_ms" -> due.toSeq, "released_ms" -> released.toSeq,
      "epochs" -> progress.asScala.toList.sortBy(_("batch").asInstanceOf[Long]),
      "sink" -> sink.synchronized(sink.toList), "mem_mb" -> memMb,
      "gc_ms" -> gcMs)
  }
}
