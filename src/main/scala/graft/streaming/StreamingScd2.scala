package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming SCD-2 maintenance — the online twin of
  * [[graft.operators.Cdc.scd2]]: per-key state holds the OPEN version;
  * each arriving record closes it (emitting the closed row with its
  * `valid_to`) and, unless it is a delete, opens itself (emitting an
  * open row with `valid_to` null). The version history extends per
  * micro-batch instead of re-windowing the whole changelog.
  *
  * Semantics: under ascending-`seq` replay (the [[FileReplay.timeChunks]]
  * contract, same as the retention twin; a production deployment pairs
  * this with a watermark) every version is emitted AT MOST twice — once
  * open, once closed — and the closed emission strictly supersedes the
  * open one. So `max(valid_to)` grouped by (key, valid_from, tie) — null
  * ranking below every timestamp, Spark's default for `max` ignoring
  * nulls — reconstructs EXACTLY the batch lead() history for any epoch
  * slicing: versions closed within an epoch, across epochs, or never.
  * Deletes close the predecessor and emit nothing open, matching batch.
  *
  * State per key is one fixed-size record; the emitted history is
  * append-only — at 100 TB the store holds |keys| entries and the sink
  * receives each version's two monotone rows, the shape a downstream
  * MERGE folds idempotently.
  */
object StreamingScd2 {

  private[streaming] case class VersionRow(key: Long, validFrom: Long,
      tie: Long, del: Boolean, etype: String, v: Double, validTo: Long)

  private val Open = Long.MinValue

  private[streaming] class Scd2Processor
      extends StatefulProcessor[Long, VersionRow, VersionRow] {
    @transient private var st: ValueState[VersionRow] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[VersionRow]("scd2",
        Encoders.product[VersionRow], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[VersionRow],
        timerValues: TimerValues): Iterator[VersionRow] = {
      var cur = if (st.exists()) st.get() else null
      val out = ArrayBuffer.empty[VersionRow]
      rows.toArray.sortBy(r => (r.validFrom, r.tie)).foreach { r =>
        if (cur != null) out += cur.copy(validTo = r.validFrom)
        if (!r.del) { out += r; cur = r } else cur = null
      }
      if (cur != null) st.update(cur) else st.clear()
      out.iterator
    }
  }

  /** Replay a bounded changelog through the SCD-2 maintainer in `batches`
    * time-sliced micro-batches and fold the emissions into the batch
    * operator's history shape — the correctness gate (same oracle as
    * `cdc_scd2`).
    */
  def replayBatch(events: DataFrame, batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col("user_id"), col("ts"), col("event_id"),
      col("event_type"), col("value"))
    val (chunk, _, _) = FileReplay.timeChunks(in, "ts", batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val emitted = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs) { src =>
      val spark2 = src.sparkSession
      import spark2.implicits._
      src.select(col("user_id").cast("long").as("key"),
          unix_micros(col("ts")).as("validFrom"),
          col("event_id").cast("long").as("tie"),
          (col("event_type") === "error").as("del"),
          col("event_type").as("etype"), col("value").cast("double").as("v"),
          lit(Open).as("validTo"))
        .as[VersionRow]
        .groupByKey(_.key)
        .transformWithState(new Scd2Processor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }
    // closed emission supersedes open: max(validTo) per version (Open is
    // Long.MinValue, below every real timestamp)
    emitted.groupBy(col("key"), col("validFrom"), col("tie"))
      .agg(max(col("validTo")).as("vt"), first(col("etype")).as("etype"),
        first(col("v")).as("v"))
      .select(col("key").as("user_id"),
        timestamp_micros(col("validFrom")).as("valid_from"),
        when(col("vt") === Open, lit(null).cast("timestamp"))
          .otherwise(timestamp_micros(col("vt"))).as("valid_to"),
        (col("vt") === Open).as("is_current"),
        col("etype"), round(col("v"), 4).as("val"))
  }
}
