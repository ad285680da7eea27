package graft.streaming

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Replays a bounded table through a file streaming source, one time-slice
  * per micro-batch.
  *
  * This is the scale-safe replacement for a `collect()` + MemoryStream
  * replay: the slicing is a single hash-partitioned executor-side write
  * (nothing is ever materialized on the driver), and the file source's
  * `maxFilesPerTrigger = 1` + strictly ascending file modification times
  * turn each slice into its own micro-batch — the watermark advances slice
  * by slice exactly as on a live stream, closing windows (and evicting
  * state) as the replay progresses. The reference replays its bounded
  * sample the driver-side way because Beam's test stream is driver-fed
  * (`GenerateSampleData.java:81-159` feeding `Create.of`); on Spark the
  * file source is the idiomatic distributed equivalent.
  */
object FileReplay {

  /** Root for replay scratch — staging files, checkpoints, state stores,
    * epoch indexes, sinks. Everything under it is SINGLE-RUN ephemeral: a
    * failed replay restarts from the bounded source table, so cross-run
    * durability buys nothing (the same argument as the operators' eager
    * `localCheckpoint`s). Placement, in order: `$GRAFT_SCRATCH_DIR` when
    * set; else `/dev/shm` when writable (replay volumes are bounded
    * slices, orders of magnitude below RAM — and a disk-backed /tmp
    * otherwise charges every micro-batch's state-store commit, offset/WAL
    * write and sink append with real fsync latency, pure harness cost the
    * kernel never sees); else `java.io.tmpdir`. A production deployment
    * points GRAFT_SCRATCH_DIR at instance NVMe scratch; state that must
    * survive a restart does not belong in a one-shot replay.
    *
    * Every root is queued for a best-effort recursive delete at JVM exit
    * ([[scratchRoots]]) — RAM-backed scratch must not accumulate across
    * bench runs.
    */
  private[graft] def scratchDir(prefix: String): Path = {
    val base = sys.env.get("GRAFT_SCRATCH_DIR").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm)
        else None
      }
    val root = base match {
      case Some(b) =>
        Files.createTempDirectory(
          Files.createDirectories(b.resolve("graft_scratch")), prefix)
      case None => Files.createTempDirectory(prefix)
    }
    scratchRoots.add(root)
    root
  }

  /** Scratch roots to delete at JVM exit, drained by ONE shutdown hook
    * registered on first use (not one hook per replay).
    */
  private lazy val scratchRoots: java.util.concurrent.ConcurrentLinkedQueue[Path] = {
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      roots.forEach { root =>
        try {
          val s = Files.walk(root)
          try s.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
          finally s.close()
        } catch { case _: Throwable => () }
      }))
    roots
  }

  /** Stage `df` as one parquet file per distinct `chunkCol` value
    * (ascending), followed by the `tails` frames (e.g. watermark
    * sentinels), one file each; modification times strictly increase in
    * that order. Returns the replay root (source files under `src/`).
    *
    * `chunkCol` must be a non-negative long, monotone in event time, with
    * equal timestamps mapped to the same chunk: each chunk becomes one
    * micro-batch, so every row of a later chunk must be strictly later
    * than all rows of earlier chunks or it would be dropped as late once
    * the watermark passes it.
    */
  def stage(df: DataFrame, chunkCol: Column, tails: Seq[DataFrame]): Path = {
    val root = scratchDir("graft_replay_")
    val stageDir = root.resolve("stage")
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)

    // one shuffle on the chunk id: each chunk lands wholly in one task, so
    // partitionBy emits exactly one file per chunk
    df.withColumn("__c", chunkCol.cast("long"))
      .repartition(col("__c"))
      .write.partitionBy("__c").parquet(stageDir.toString)

    def listDir(d: Path): Seq[Path] = {
      val s = Files.list(d)
      try s.iterator().asScala.toList finally s.close()
    }
    val chunkFiles = listDir(stageDir)
      .filter(_.getFileName.toString.startsWith("__c="))
      .sortBy(_.getFileName.toString.stripPrefix("__c=").toLong)
      .map { d =>
        val parts = listDir(d).filter(_.getFileName.toString.endsWith(".parquet"))
        require(parts.size == 1, s"expected one file per chunk, found ${parts.size} in $d")
        parts.head
      }
    val tailFiles = tails.zipWithIndex.map { case (t, i) =>
      val td = root.resolve(s"tail_$i")
      t.coalesce(1).write.parquet(td.toString)
      val parts = listDir(td).filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"expected one tail file, found ${parts.size} in $td")
      parts.head
    }

    // ascending mtimes ending at "now" (never in the future); 2 s spacing
    // clears coarse-grained filesystem timestamp resolution
    val all = chunkFiles ++ tailFiles
    val t0 = System.currentTimeMillis() - 2000L * all.size
    all.zipWithIndex.foreach { case (f, i) =>
      val dest = srcDir.resolve(f"b$i%05d.parquet")
      Files.move(f, dest)
      require(dest.toFile.setLastModified(t0 + 2000L * (i + 1)),
        s"setLastModified failed for $dest")
    }
    root
  }

  /** Global event-time bounds (micros) plus the time-sliced chunk column
    * every replay stages on: `batches` slices of [lo, hi], equal timestamps
    * always in the same chunk, monotone in event time — the invariant
    * [[stage]] documents. Shared by every replay entry point so the
    * boundary arithmetic lives in exactly one place. Throws on empty input
    * (a replay needs at least one row to bound the timeline).
    */
  def timeChunks(df: DataFrame, tsCol: String, batches: Int): (Column, Long, Long) = {
    val bounds = df
      .agg(min(unix_micros(col(tsCol))), max(unix_micros(col(tsCol)))).head()
    require(!bounds.isNullAt(0), "replay needs at least one input row")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    (chunksFor(tsCol, lo, hi, batches), lo, hi)
  }

  /** The chunk column for KNOWN time bounds (micros) — callers that can
    * derive lo/hi arithmetically (e.g. from the raw source table's
    * pushed-down min/max before an expensive derivation) skip
    * [[timeChunks]]' bounds pass entirely, so the derivation pipeline runs
    * exactly once: inside [[stage]]'s chunked write.
    */
  def chunksFor(tsCol: String, lo: Long, hi: Long, batches: Int): Column = {
    val span = math.max(1L, hi - lo)
    val m = unix_micros(col(tsCol))
    least(lit(batches - 1L),
      floor((m - lit(lo)) * lit(batches.toLong) / lit(span)))
  }

  /** Chunk column with a DETERMINISTIC bounded arrival delay — the
    * out-of-order replay mode. Each row is sliced by its ARRIVAL time
    * `m + delay(idCols, m)` (delay = xxhash64-derived uniform in
    * [0, disorderMicros]) instead of its event time `m`, so individual
    * events cross micro-batch boundaries out of event order — the
    * disorder a real feed has inside its transport's jitter bound, which
    * the in-order slicer never exercises.
    *
    * This deliberately breaks [[stage]]'s strictly-later invariant; the
    * replayed query MUST run `withWatermark(ts, ≥ disorderMicros)`.
    * With that bound nothing ever drops: a row in a strictly earlier
    * chunk has arrival time ≤ this row's (chunking is monotone in
    * arrival time), so its EVENT time ≤ ts + disorder, hence the
    * watermark when this row arrives is ≤ (ts + disorder) − disorder =
    * ts — strictly below the row's window end. Tail sentinels must sit
    * `disorderMicros` later than the in-order replay's, so the final
    * watermark still clears the last data window.
    */
  def disorderChunksFor(tsCol: String, idCols: Seq[Column], lo: Long,
      hi: Long, batches: Int, disorderMicros: Long): Column = {
    require(disorderMicros > 0, "use chunksFor for an in-order replay")
    val m = unix_micros(col(tsCol))
    val delay = pmod(xxhash64(idCols :+ m: _*), lit(disorderMicros + 1L))
    val span = math.max(1L, hi + disorderMicros - lo)
    least(lit(batches - 1L),
      floor((m + delay - lit(lo)) * lit(batches.toLong) / lit(span)))
  }

  /** One-file-per-trigger streaming source over a staged replay root. */
  def source(spark: SparkSession, root: Path, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(root.resolve("src").toString)

  /** Default state-partition count for replayed stateful queries. The state
    * partition count is locked in at query start from
    * `spark.sql.shuffle.partitions`; a replay's keyed state is tiny, so at
    * 32 partitions each micro-batch pays 32 store commits of near-empty
    * state — pure fixed cost. 8 keeps parallelism for the replay sizes the
    * gates run while quartering the per-batch commit count. A production
    * deployment sizes this to its key cardinality, not to this default.
    */
  def defaultStateParts: Int =
    sys.env.getOrElse("GRAFT_STREAM_STATE_PARTS", "8").toInt

  /** Set `confs` for the duration of `body` (a complete streaming run) and
    * restore the previous values after — streaming confs like the state
    * store provider are read at query start and session-global, so an
    * unscoped set leaks into every later query on the session (a RocksDB
    * provider set for one query would silently re-provider the rest).
    *
    * SINGLE-THREADED by design: the save/restore races if two queries run
    * `withStreamConfs` concurrently on ONE session — a concurrent caller
    * can observe, or restore over, the other's temporary values. Nesting
    * on one thread is fine (the replay harness nests a per-epoch override
    * inside the outer scope; each restore returns to the enclosing
    * scope's values). Concurrent streaming queries belong on separate
    * sessions (`spark.newSession()`), which isolates runtime conf.
    */
  def withStreamConfs[T](spark: SparkSession, confs: Map[String, String])(
      body: => T): T = {
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Streaming confs every replayed query wants: few state partitions for
    * tiny replay state, and NO trailing no-data micro-batch — every harness
    * that needs a watermark-triggered flush stages a DOUBLED sentinel, so
    * the sentinel-#2 batch performs the close and the engine's extra empty
    * batch after it is pure per-query fixed cost (measured 2-5 s at sf0.1:
    * an empty batch still runs the full state read/commit machinery).
    */
  def baselineConfs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> defaultStateParts.toString,
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Run the cheapest possible streaming query over a pre-staged replay
    * root: a foreachBatch that MATERIALIZES each micro-batch (full input
    * read) and appends one (epoch, rows) marker row. Timing this measures
    * the replay HARNESS — query start/stop, per-epoch scheduling +
    * offset/WAL/commit fixed costs, the input scan, the sentinel epochs —
    * with the production kernel (stateful agg, joins, top-k) removed.
    * [[graft.Bench]] times a gate's staged-input floor alongside the gate
    * and reports it as harnessSec, the remainder as prodSec, so the
    * replay twins' bench lines stop charging harness fixed costs to the
    * streaming kernels. The marker write (1 row/epoch) is deliberately
    * negligible: an identity passthrough would re-write the full input to
    * parquet — a cost the GATE never pays on its bounded sink volume —
    * and overstate the floor.
    */
  def harnessFloor(spark: SparkSession, root: Path,
      schema: StructType): DataFrame = {
    val outDir = root.resolve("floor_out").toString
    withStreamConfs(spark, baselineConfs) {
      val q = source(spark, root, schema)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val n = b.count()
          b.sparkSession.range(1)
            .selectExpr(s"$id as epoch", s"$n as rows")
            .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", root.resolve("floor_ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(outDir)
  }

  /** Run `build(source)` to completion into a parquet sink under the replay
    * root and return the result as a batch DataFrame. `confs` are applied
    * for the duration of the streaming query only (see [[withStreamConfs]])
    * on top of [[baselineConfs]] (caller entries win).
    */
  def run(spark: SparkSession, root: Path, schema: StructType,
      confs: Map[String, String] = Map.empty)(
      build: DataFrame => DataFrame): DataFrame = {
    val out = root.resolve("out").toString
    withStreamConfs(spark, baselineConfs ++ confs) {
      val q = build(source(spark, root, schema))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
  }
}
