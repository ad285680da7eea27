package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Streaming MARKET-BASKET co-occurrence — the online twin of
  * [[graft.operators.Behavior.cooccurrence]]: per-user keyed state holds
  * the SET of items seen; an arriving event with a NEW item emits one
  * first-sight row plus one pair row against each item already in the
  * set, then joins it. Set semantics make the emission multiset
  * arrival-order- and slicing-INVARIANT: each (user, item) first sight
  * and each unordered (user, pair) fires exactly once, in the epoch the
  * second member arrives — so the per-epoch emissions aggregate to the
  * batch matrix exactly, and the affinity table updates live instead of
  * recomputing the distinct self-join per refresh.
  *
  * State per user is its item set — bounded by the CATALOG a user can
  * touch (event types here; items-per-user in general), the same bounded
  * class as the funnel's stage index, never event volume.
  */
object StreamingCooccurrence {

  private[streaming] case class Ev(userId: Long, etype: String)

  /** `itemB` empty ⇒ first sight of `itemA` for this user (margin row). */
  private[streaming] case class CoRow(userId: Long, itemA: String,
      itemB: String)

  private[streaming] case class Seen(items: List[String])

  private[streaming] class CoProcessor
      extends StatefulProcessor[Long, Ev, CoRow] {
    @transient private var st: ValueState[Seen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Seen]("seen",
        Encoders.product[Seen], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[CoRow] = {
      var seen = if (st.exists()) st.get().items else Nil
      val out = ArrayBuffer.empty[CoRow]
      var changed = false
      rows.foreach { e =>
        if (!seen.contains(e.etype)) {
          out += CoRow(key, e.etype, "")
          seen.foreach { prior =>
            val (a, b) = if (prior < e.etype) (prior, e.etype)
              else (e.etype, prior)
            out += CoRow(key, a, b)
          }
          seen = e.etype :: seen
          changed = true
        }
      }
      if (changed) st.update(Seen(seen))
      out.iterator
    }
  }

  private[streaming] def emitted(stream: DataFrame, userCol: String,
      itemCol: String): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col(userCol).cast("long").as("userId"),
        col(itemCol).as("etype"))
      .as[Ev]
      .groupByKey(_.userId)
      .transformWithState(new CoProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** Replay a bounded event table through the streaming co-occurrence
    * extractor and fold the emissions into the batch operator's
    * `(item_a, item_b, n_both, lift)` shape — shares `ev_cooccurrence`'s
    * oracle verbatim.
    */
  def replayBatch(events: DataFrame, userCol: String = "user_id",
      itemCol: String = "event_type", tsCol: String = "ts",
      batches: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val in = events.select(col(userCol), col(itemCol), col(tsCol))
    val (chunk, _, _) = FileReplay.timeChunks(in, tsCol, batches)
    val root = FileReplay.stage(in, chunk, Seq.empty)
    val rows = FileReplay.run(spark, root, in.schema,
        FileReplay.rocksDbConfs)(
      src => emitted(src, userCol, itemCol))
    val firsts = rows.filter(col("itemB") === "")
    val margins = firsts.groupBy(col("itemA").as("item_a"))
      .agg(count(lit(1)).as("__na"))
    val total = firsts.agg(countDistinct(col("userId")).as("__tot"))
    rows.filter(col("itemB") =!= "")
      .groupBy(col("itemA").as("item_a"), col("itemB").as("item_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(margins), "item_a")
      .join(broadcast(margins.select(col("item_a").as("item_b"),
        col("__na").as("__nb"))), "item_b")
      .crossJoin(broadcast(total))
      .select(col("item_a"), col("item_b"), col("n_both"),
        round(col("n_both") * col("__tot") /
          (col("__na") * col("__nb")), 6).as("lift"))
  }
}
