package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming INTER-ARRIVAL gap extraction — the online twin of the
  * ev_interarrival gate: keyed state per (event_type, UTC day) holds the
  * last arrival (timestamp, id); each arriving event emits its gap
  * against it and becomes the new last. The per-type percentile summary
  * then aggregates the emitted gaps downstream — the traffic-cadence
  * monitor updating at ingest instead of re-scanning the day.
  *
  * Slicing invariance is [[StreamingTransitions]]' argument verbatim:
  * within a micro-batch the handler sorts by `(ts, event_id)` (the batch
  * lag's ordering); across micro-batches the time-sliced replay never
  * splits equal timestamps, so concatenated arrival IS the batch order
  * and the gap multiset equals batch lag's exactly under any slicing.
  * State per key is two scalars; day-keyed state is naturally expirable
  * by TTL/watermark once its day closes (kept indefinitely here — the
  * replay is bounded).
  */
object StreamingInterarrival {

  private[streaming] case class Ev(etype: String, day: Long,
      tsMicros: Long, eventId: Long)

  private[streaming] case class LastArr(tsMicros: Long, eventId: Long)

  private[streaming] case class Gap(etype: String, gapUs: Long)

  private[streaming] class GapProcessor
      extends StatefulProcessor[(String, Long), Ev, Gap] {
    @transient private var st: ValueState[LastArr] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LastArr]("last",
        Encoders.product[LastArr], TTLConfig.NONE)

    override def handleInputRows(key: (String, Long), rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Gap] = {
      var last = if (st.exists()) st.get() else null
      val out = ArrayBuffer.empty[Gap]
      rows.toArray.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
        if (last != null) out += Gap(e.etype, e.tsMicros - last.tsMicros)
        last = LastArr(e.tsMicros, e.eventId)
      }
      if (last != null) st.update(last)
      out.iterator
    }
  }

  /** Replay a bounded event table through the gap extractor in `batches`
    * time-sliced micro-batches and fold the emitted gaps into the batch
    * gate's per-type percentile summary — shares ev_interarrival's
    * oracle verbatim.
    */
  def replayBatch(events: DataFrame, batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col("ts"), col("event_type"), col("event_id"))
    val (chunk, _, _) = FileReplay.timeChunks(in, "ts", batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val gaps = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs) { src =>
      import spark.implicits._
      src.select(col("event_type").as("etype"),
          floor(unix_micros(col("ts")) / 86400000000L).as("day"),
          unix_micros(col("ts")).as("tsMicros"),
          col("event_id").cast("long").as("eventId"))
        .as[Ev]
        .groupByKey(e => (e.etype, e.day))
        .transformWithState(new GapProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }
    gaps.groupBy(col("etype").as("event_type"))
      .agg(count(col("gapUs")).as("n"),
        round(avg(col("gapUs")) / 1e6, 4).as("avg_secs"),
        round(expr("percentile(gapUs, 0.5)") / 1e6, 4).as("p50_secs"),
        round(expr("percentile(gapUs, 0.9)") / 1e6, 4).as("p90_secs"))
  }
}
