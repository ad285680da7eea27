package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming Markov-transition extraction — the online twin of
  * [[graft.operators.Behavior.transitions]]: per-user keyed state holds the
  * LAST event seen (timestamp, id, type); each arriving event emits one
  * (from → to) step against it and becomes the new last. The transition
  * matrix then aggregates the emitted steps per micro-batch downstream.
  *
  * Slicing invariance: the batch operator's `lead` orders each user's
  * events by `(ts, event_id)`. Within a micro-batch the handler sorts its
  * rows by the same key; across micro-batches `FileReplay.timeChunks`
  * slices on time and never splits equal timestamps across epochs, so the
  * concatenation of per-epoch arrivals IS the batch order and the emitted
  * step multiset equals batch `lead`'s exactly, under ANY slicing. One
  * event's step is emitted exactly once, in the epoch where its successor
  * arrives.
  *
  * State per user is three scalars — |active users| fixed-size RocksDB
  * entries at any event volume, the same footprint class as
  * [[StreamingFunnel]].
  */
object StreamingTransitions {

  private[streaming] case class Ev(userId: Long, tsMicros: Long,
      eventId: Long, etype: String)

  private[streaming] case class LastEv(tsMicros: Long, eventId: Long,
      etype: String)

  private[streaming] case class Step(fromType: String, toType: String)

  private[streaming] class TransitionProcessor
      extends StatefulProcessor[Long, Ev, Step] {
    @transient private var st: ValueState[LastEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[LastEv]("last",
        Encoders.product[LastEv], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[Step] = {
      var last = if (st.exists()) st.get() else null
      val steps = ArrayBuffer.empty[Step]
      rows.toArray.sortBy(e => (e.tsMicros, e.eventId)).foreach { e =>
        if (last != null) steps += Step(last.etype, e.etype)
        last = LastEv(e.tsMicros, e.eventId, e.etype)
      }
      if (last != null) st.update(last)
      steps.iterator
    }
  }

  /** Apply the streaming step extractor to `stream`; one append-mode row
    * per consecutive (from, to) event pair of a user.
    */
  def steps(stream: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      idCol: String = "event_id"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(userCol).cast("long").as("userId"),
        unix_micros(col(tsCol)).as("tsMicros"),
        col(idCol).cast("long").as("eventId"),
        col(typeCol).as("etype"))
      .as[Ev]
      .groupByKey(_.userId)
      .transformWithState(new TransitionProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Replay a bounded event table through the streaming extractor in
    * `batches` time-sliced micro-batches and aggregate the emitted steps
    * into the batch operator's `(from_type, to_type, n, p)` shape — the
    * correctness gate shares `ev_transitions`' oracle verbatim.
    */
  def replayBatch(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type",
      idCol: String = "event_id", batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col(userCol), col(tsCol), col(typeCol), col(idCol))
    val (chunk, _, _) = FileReplay.timeChunks(in, tsCol, batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val emitted = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => steps(src, userCol, tsCol, typeCol, idCol))
    val m = emitted.groupBy(col("fromType").as("from_type"),
        col("toType").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wFrom = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
    m.select(col("from_type"), col("to_type"), col("n"),
      round(col("n") / sum(col("n")).over(wFrom), 6).as("p"))
  }
}
