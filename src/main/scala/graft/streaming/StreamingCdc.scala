package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming changelog compaction — the online twin of
  * [[graft.operators.Cdc.latestSnapshot]]: per-key state holds the
  * highest-(seq, tie) record seen so far; an arriving record either
  * advances that maximum (emitting the NEW current state as one change
  * row) or is stale and emits nothing. The materialized view updates per
  * micro-batch instead of re-compacting the log.
  *
  * Semantics: `max` is associative and commutative, so the per-key winner
  * is independent of how the replay is sliced — the last change emitted
  * for a key (the max_by over all emitted changes) equals the batch
  * snapshot row EXACTLY, for any epoch count, with no ordering
  * assumptions at all (unlike the retention twin this needs no ascending
  * arrival: a stale record is simply ignored). Deletes participate like
  * any record — a delete that wins leaves the key flagged, and the final
  * view drops it, matching batch.
  *
  * State per key is one fixed-size record — at 100 TB the store holds
  * |keys| entries in RocksDB, independent of changelog volume.
  */
object StreamingCdc {

  private[streaming] case class ChangeRow(key: Long, seq: Long, tie: Long,
      del: Boolean, etype: String, v: Double)

  private[streaming] class SnapshotProcessor
      extends StatefulProcessor[Long, ChangeRow, ChangeRow] {
    @transient private var st: ValueState[ChangeRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ChangeRow]("cdc",
        Encoders.product[ChangeRow], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ChangeRow],
        timerValues: TimerValues): Iterator[ChangeRow] = {
      var cur = if (st.exists()) st.get() else null
      rows.foreach { r =>
        if (cur == null || r.seq > cur.seq ||
          (r.seq == cur.seq && r.tie > cur.tie)) cur = r
      }
      if (cur != null && (!st.exists() || cur != st.get())) {
        st.update(cur)
        Iterator.single(cur)
      } else Iterator.empty
    }
  }

  /** Apply the compactor to a stream keyed/sequenced like the batch gate:
    * one append-mode change row per advanced key maximum. */
  def snapshot(stream: DataFrame, keyCol: String, seqCol: String,
      tieCol: String, isDelete: org.apache.spark.sql.Column,
      etypeCol: String, valueCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col(seqCol)).as("seq"), col(tieCol).cast("long").as("tie"),
        isDelete.as("del"), col(etypeCol).as("etype"),
        col(valueCol).cast("double").as("v"))
      .as[ChangeRow]
      .groupByKey(_.key)
      .transformWithState(new SnapshotProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Replay a bounded changelog through the compactor in `batches`
    * time-sliced micro-batches and reduce the emitted changes to the final
    * snapshot — the correctness gate (same oracle as `cdc_snapshot`).
    *
    * `disorder`: when non-zero, rows are sliced by ARRIVAL time (event
    * time + deterministic bounded per-(user, event) delay —
    * [[FileReplay.disorderChunksFor]]) so individual changes cross
    * micro-batch boundaries out of event order. This is the PROOF gate
    * for the scaladoc's "no ordering assumptions at all" claim: the
    * compactor keeps the per-key (seq, tie) MAXIMUM, max is associative
    * and commutative, and — unlike the watermarked twins — there is no
    * event-time machinery to drop anything (TimeMode.None; every row is
    * processed in whatever epoch it arrives), so the folded snapshot must
    * equal batch under ANY arrival order, with no watermark at all.
    */
  def replayBatch(events: DataFrame, batches: Int = 16,
      disorder: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    val disorderMicros = StreamingCandles.durationMicros(disorder)
    val in = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("value"))
    val (inOrderChunk, lo, hi) = FileReplay.timeChunks(in, "ts", batches)
    val chunk =
      if (disorderMicros > 0)
        FileReplay.disorderChunksFor("ts",
          Seq(col("user_id"), col("event_id")), lo, hi, batches, disorderMicros)
      else inOrderChunk
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val changes = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => snapshot(src, "user_id", "ts", "event_id",
        col("event_type") === "error", "event_type", "value"))
    // the per-key winner over all emitted changes IS the batch snapshot
    changes.groupBy(col("key"))
      .agg(max_by(struct(col("del"), col("etype"), col("v")),
        struct(col("seq"), col("tie"))).as("s"))
      .filter(!col("s.del"))
      .select(col("key").as("user_id"), col("s.etype").as("last_type"),
        round(col("s.v"), 4).as("last_value"))
  }
}
