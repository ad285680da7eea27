package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** END-STATE reads through the public `statestore` data source for the
  * keyed-state twins that previously claimed bounded state analytically
  * only (the candle processor's eviction proof lives in StreamingSpec).
  * The 100 TB guarantee under test: after an arbitrarily long replay, the
  * store holds the CONTRACTED per-key remainder — a set bounded by the
  * catalog, one open version, one last-arrival pair — never event volume.
  */
class StateBoundsSpec extends graft.SparkSpec {

  /** transformWithState needs a multi-column-family store (RocksDB) —
    * scoped to the query exactly as the replay harness scopes it.
    */
  private def withRocksDb[T](body: => T): T =
    FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs)(body)

  test("cooccurrence state: one row per user, set bounded by catalog, deletes none") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val ckpt = Files.createTempDirectory("graft_co_state").toString
    withRocksDb {
    val q = StreamingCooccurrence.emitted(
        ms.toDF().select(col("_1").as("user_id"), col("_2").as("event_type")),
        "user_id", "event_type")
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // 3 users × 300 events over a 3-item catalog: volume is 100× the
      // catalog, so retained-history bugs show up as >3 items per user
      for (batch <- 0 until 10) {
        ms.addData((0 until 30).map(i =>
          ((i % 3).toLong, s"item${(batch + i) % 3}")): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "seen").load(ckpt)
    assert(st.count() == 3, s"expected one state row per user: ${st.count()}")
    val maxItems = st.select(max(size(col("value.items")))).head().getInt(0)
    assert(maxItems <= 3,
      s"item SET must be catalog-bounded, found $maxItems entries")
  }

  test("scd2 state: one open version per live key, cleared on delete") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[StreamingScd2.VersionRow]
    val ckpt = Files.createTempDirectory("graft_scd2_state").toString
    withRocksDb {
    val q = ms.toDS()
      .groupByKey(_.key)
      .transformWithState(new StreamingScd2.Scd2Processor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // keys 1..5, three versions each across epochs; key 3 ends deleted
      for (v <- 0 until 3) {
        ms.addData((1L to 5L).map(k => StreamingScd2.VersionRow(
          k, 1000L * (v + 1), k * 10 + v, del = false,
          s"t$v", v.toDouble, Long.MinValue)): _*)
        q.processAllAvailable()
      }
      ms.addData(StreamingScd2.VersionRow(
        3L, 9000L, 99L, del = true, "del", 0.0, Long.MinValue))
      q.processAllAvailable()
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "scd2").load(ckpt)
    assert(st.count() == 4,
      s"expected 4 open versions (key 3 deleted): ${st.count()}")
    // the retained remainder is the LATEST version, not the history
    val froms = st.select(collect_set(col("value.validFrom"))).head()
      .getSeq[Long](0)
    assert(froms == Seq(3000L),
      s"state must hold only the last version (validFrom 3000): $froms")
  }

  test("cdc state: one winner row per key; a winning delete stays flagged") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, Long, String, Double)]
    val ckpt = Files.createTempDirectory("graft_cdc_state").toString
    // 5 keys × 8 versions arriving deliberately OUT of order across epochs:
    // stale records must be ignored, never retained; key 3's eventual
    // winner (seq 7) is a delete, which must stay in state flagged (the
    // final view drops it — state cannot, or a late stale record would
    // resurrect the key)
    val arrival = Seq(5L, 2L, 7L, 0L, 4L, 1L, 6L, 3L)
    withRocksDb {
    val in = ms.toDF().select(col("_1").as("k"),
      timestamp_micros(col("_2")).as("seq"), col("_3").as("tie"),
      col("_4").as("etype"), col("_5").as("v"))
    val q = StreamingCdc.snapshot(in, "k", "seq", "tie",
        col("etype") === "error", "etype", "v")
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      for (batch <- 0 until 4) {
        ms.addData((for (k <- 1L to 5L; i <- 0 until 2) yield {
          val ver = arrival(batch * 2 + i)
          (k, 1000L * ver, ver,
            if (k == 3L && ver == 7L) "error" else s"t$ver", ver.toDouble)
        }): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "cdc").load(ckpt)
    assert(st.count() == 5, s"expected one winner row per key: ${st.count()}")
    val seqs = st.select(collect_set(col("value.seq"))).head().getSeq[Long](0)
    assert(seqs == Seq(7000L),
      s"state must hold only the max-(seq,tie) winner (seq 7000): $seqs")
    val deleted = st.filter(col("value.del"))
      .select(col("value.key")).as[Long].collect().toSeq
    assert(deleted == Seq(3L),
      s"the winning delete must stay flagged on exactly key 3: $deleted")
  }

  test("funnel state: two scalars per user at the terminal stage") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, String)]
    val ckpt = Files.createTempDirectory("graft_funnel_state").toString
    val stages = Seq("view", "click", "purchase")
    withRocksDb {
    val in = ms.toDF().select(col("_1").as("user_id"),
      timestamp_micros(col("_2")).as("ts"), col("_3").as("event_type"))
    val q = StreamingFunnel.funnel(in, stages)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // 4 users × 75 events (300 total, ascending ts); user u only ever
      // sees stages 0..min(u,2), repeated — the repeats must not grow state
      var t = 0L
      for (_ <- 0 until 5) {
        ms.addData((0 until 60).map { i =>
          val u = (i % 4).toLong
          t += 1000L
          (u, t, stages((i / 4) % (math.min(u.toInt, 2) + 1)))
        }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "funnel").load(ckpt)
    assert(st.count() == 4, s"expected one state row per user: ${st.count()}")
    val byUser = st.select(col("key.value").as("u"), col("value.stage"))
      .as[(Long, Int)].collect().toMap
    assert((0L to 3L).forall(u => byUser(u) == math.min(u.toInt, 2)),
      s"terminal stage must be the highest reached per user: $byUser")
  }

  test("retention state: cohort + last-day pair per user, volume-independent") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_ret_state").toString
    withRocksDb {
    val in = ms.toDF().select(col("_1").as("user_id"),
      timestamp_seconds(col("_2") * 86400L + col("_1") * 60L).as("ts"))
    val q = StreamingRetention.retention(in)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // 3 users × 240 events over 8 ascending days (user u's cohort day is
      // 100 + u): day repeats within an epoch must collapse in state
      for (batch <- 0 until 4) {
        ms.addData((0 until 60).map { i =>
          val u = (i % 3).toLong
          (u, 100L + u + (batch * 2 + (i / 30)).toLong)
        }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "retention").load(ckpt)
    assert(st.count() == 3, s"expected one state row per user: ${st.count()}")
    val byUser = st.select(col("key.value").as("u"),
        col("value.cohortDay"), col("value.lastDay"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert((0L to 2L).forall(u => byUser(u) == ((100 + u.toInt, 107 + u.toInt))),
      s"state must hold (cohort, last active day) only: $byUser")
  }

  test("transitions state: exactly the last event per user") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, Long, String)]
    val ckpt = Files.createTempDirectory("graft_trans_state").toString
    withRocksDb {
    val in = ms.toDF().select(col("_1").as("user_id"),
      timestamp_micros(col("_2")).as("ts"), col("_3").as("event_id"),
      col("_4").as("event_type"))
    val q = StreamingTransitions.steps(in)
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // 3 users × 400 events: the step extractor emits ~400 step rows but
      // state must remain ONE last-event record per user
      var t = 0L
      for (_ <- 0 until 4) {
        ms.addData((0 until 100).map { i =>
          t += 1000L
          ((i % 3).toLong, t, t / 1000L, s"e${i % 5}")
        }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "last").load(ckpt)
    assert(st.count() == 3, s"expected one last-event row per user: ${st.count()}")
    // each user's retained event is the chronologically last one it saw:
    // rows strike users round-robin i%3 and the final batch ends at
    // t=400000 on i=99 (user 0), preceded by i=98 (user 2) and i=97 (user 1)
    val expected = Map(0L -> 400000L, 1L -> 398000L, 2L -> 399000L)
    val byUser = st.select(col("key.value").as("u"), col("value.tsMicros"))
      .as[(Long, Long)].collect().toMap
    assert(byUser == expected,
      s"state must be the last arrival per user: $byUser")
  }

  test("interarrival state: one last-arrival pair per (type, day) key") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[StreamingInterarrival.Ev]
    val ckpt = Files.createTempDirectory("graft_gap_state").toString
    val day = 86400000000L
    withRocksDb {
    val q = ms.toDS()
      .groupByKey(e => (e.etype, e.day))
      .transformWithState(new StreamingInterarrival.GapProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
      .writeStream.outputMode("append").format("noop")
      .option("checkpointLocation", ckpt).start()
    try {
      // 2 types × 2 days × 200 events — state must stay at 4 keys
      for (batch <- 0 until 4) {
        ms.addData((0 until 100).map { i =>
          val d = ((i / 2) % 2).toLong
          StreamingInterarrival.Ev(s"t${i % 2}", d,
            d * day + batch * 1000000L + i, batch * 100L + i)
        }: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    }
    val st = spark.read.format("statestore")
      .option("stateVarName", "last").load(ckpt)
    assert(st.count() == 4,
      s"expected one last-arrival row per (type, day): ${st.count()}")
  }
}
