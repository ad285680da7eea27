package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming cohort-retention tracking — the online twin of
  * [[graft.operators.Behavior.retention]]: per-user keyed state holds the
  * user's cohort day (first day ever seen) and the last active day already
  * emitted; each arriving event either opens a new active day (emitting one
  * `(cohortDay, day)` attainment row, exactly once per (user, day)) or is a
  * same-day repeat and is dropped. Retention dashboards update per
  * micro-batch instead of rescanning the event log.
  *
  * Semantics: identical to the batch operator. Batch computes cohort =
  * `min(day)` per user and counts distinct (user, day) pairs per
  * (cohort, offset) cell; under ascending event-time replay the FIRST day a
  * user appears IS the min, and a user's days then arrive non-decreasing,
  * so `day > lastDay` is exactly the "new distinct day" test. Within a
  * micro-batch the handler sorts its rows by timestamp, and
  * [[FileReplay.timeChunks]] never splits equal timestamps across epochs —
  * so the union of epoch outputs equals the batch distinct set regardless
  * of slicing. A production deployment with out-of-order arrivals would
  * pair this with a ≥ 1-day watermark (the same contract as any
  * event-time-windowed aggregate); the replay harness needs none.
  *
  * State per user is two ints — at 100 TB the store holds |users| fixed-size
  * entries in RocksDB, independent of event volume and of history length
  * (days already counted never need to be remembered individually, because
  * arrival order makes "new day" a single comparison).
  */
object StreamingRetention {

  /** `(user, epochDay)` input row — the ts→day floor happens before the
    * stateful operator (same session-timezone `to_date` as the batch
    * operator) so state holds only day ordinals. */
  private[streaming] case class DayEvent(userId: Long, epochDay: Int)

  /** Cohort day ordinal + last active day already emitted. */
  private[streaming] case class RetentionState(cohortDay: Int, lastDay: Int)

  /** One attainment: `userId` was active on `epochDay`, cohort `cohortDay`. */
  private[streaming] case class DayHit(cohortDay: Int, epochDay: Int)

  private[streaming] class RetentionProcessor
      extends StatefulProcessor[Long, DayEvent, DayHit] {
    @transient private var st: ValueState[RetentionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RetentionState]("retention",
        Encoders.product[RetentionState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[DayEvent],
        timerValues: TimerValues): Iterator[DayHit] = {
      val cur = if (st.exists()) st.get() else RetentionState(Int.MinValue, Int.MinValue)
      var cohort = cur.cohortDay
      var last = cur.lastDay
      val hits = ArrayBuffer.empty[DayHit]
      rows.toArray.sortBy(_.epochDay).foreach { e =>
        if (cohort == Int.MinValue) cohort = e.epochDay
        if (e.epochDay > last) {
          last = e.epochDay
          hits += DayHit(cohort, e.epochDay)
        }
      }
      if (last > cur.lastDay) st.update(RetentionState(cohort, last))
      hits.iterator
    }
  }

  /** Apply the streaming retention tracker to `stream`; returns one
    * append-mode row per newly-opened (user, day). */
  def retention(stream: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(userCol).cast("long").as("userId"),
        datediff(to_date(col(tsCol)), to_date(lit("1970-01-01")))
          .cast("int").as("epochDay"))
      .as[DayEvent]
      .groupByKey(_.userId)
      .transformWithState(new RetentionProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Replay a bounded event table through the streaming tracker in
    * `batches` time-sliced micro-batches and aggregate the attainments into
    * the batch operator's `(cohort_day, day_offset, n_users)` shape — the
    * correctness gate (same oracle as `ev_retention`).
    */
  def replayBatch(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col(userCol), col(tsCol))
    val (chunk, _, _) = FileReplay.timeChunks(in, tsCol, batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val hits = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => retention(src, userCol, tsCol))
    val epoch = to_date(lit("1970-01-01"))
    hits
      .groupBy(date_add(epoch, col("cohortDay")).as("cohort_day"),
        (col("epochDay") - col("cohortDay")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Cumulative-distinct-users twin reusing the SAME stateful tracker: a
    * hit with `epochDay == cohortDay` is by construction each user's
    * first-ever attainment (emitted exactly once, in the epoch the user
    * first appears), so filtering the emitted stream to the diagonal IS
    * the ingest-time form of [[graft.operators.Behavior.cumulativeUsers]]'
    * first-sight aggregation; the per-day counts and the running total
    * then aggregate over the days-sized relation exactly as in batch.
    */
  def replayCumulative(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col(userCol), col(tsCol))
    val (chunk, _, _) = FileReplay.timeChunks(in, tsCol, batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val hits = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => retention(src, userCol, tsCol))
    val epoch = to_date(lit("1970-01-01"))
    val perDay = hits.filter(col("epochDay") === col("cohortDay"))
      .groupBy(date_add(epoch, col("cohortDay")).as("day"))
      .agg(count(lit(1)).as("new_users"))
    val wRun = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perDay.select(col("day"), col("new_users"),
      sum(col("new_users")).over(wRun).as("cum_users"))
  }
}
