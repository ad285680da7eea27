package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Behavior, Dedup}

/** Hand-checked semantics for the behavioral-analytics operators and the
  * edit-distance near-dup verify.
  */
class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, String)*) =
    rows.map { case (u, ts, t) => (u, new Timestamp(ts), t, 1.0, "{\"k\": 1}") }
      .toDF("user_id", "ts", "event_type", "value", "props")

  test("funnel: stage order is enforced, not mere presence") {
    val h = 3600_000L
    val events = ev(
      // u1 completes in order: view @1h, click @2h, purchase @3h
      (1, 1 * h, "view"), (1, 2 * h, "click"), (1, 3 * h, "purchase"),
      // u2 clicks BEFORE its first view — click must not count
      (2, 2 * h, "click"), (2, 3 * h, "view"),
      // u3 purchases before clicking — reaches click only
      (3, 1 * h, "view"), (3, 2 * h, "purchase"), (3, 3 * h, "click"),
      // u4 same-timestamp view+click: >= lets the tie advance
      (4, 1 * h, "view"), (4, 1 * h, "click"))
    val out = Behavior.funnel(events, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    assert(out.map(_.getAs[String]("stage")).toSeq ==
      Seq("view", "click", "purchase"))
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(4L, 3L, 1L))
  }

  test("funnel: user missing an early stage never reaches later ones") {
    val events = ev((1, 1000L, "purchase"), (2, 1000L, "view"))
    val out = Behavior.funnel(events, Seq("view", "click", "purchase"))
      .orderBy("stage_idx").collect()
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(1L, 0L, 0L))
  }

  test("retention: cohort day and offsets") {
    val d = 86400_000L
    val events = ev(
      (1, 0 * d, "view"), (1, 0 * d + 5000, "click"), // day 0 twice → one cell
      (1, 2 * d, "view"), // day-2 return
      (2, 1 * d, "view")) // second cohort, day 1 only
    val out = Behavior.retention(events).collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toString,
        r.getAs[Long]("day_offset"), r.getAs[Long]("n_users"))).toSet
    assert(out == Set(
      ("1970-01-01", 0L, 1L), ("1970-01-01", 2L, 1L), ("1970-01-02", 0L, 1L)))
  }

  test("propsStats: field extraction, missing-field rows drop out") {
    val events = Seq(
      (1L, new Timestamp(0), "view", 1.0, "{\"k\": 10}"),
      (2L, new Timestamp(0), "view", 1.0, "{\"k\": 20}"),
      (3L, new Timestamp(0), "view", 1.0, "{\"other\": 5}"),
      (4L, new Timestamp(0), "click", 1.0, "{\"k\": -3}"))
      .toDF("user_id", "ts", "event_type", "value", "props")
    val rows = Behavior.propsStats(events).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_v"))).toMap
    assert(rows("view") == ((2L, 30L)))
    assert(rows("click") == ((1L, -3L)))
  }

  test("streaming funnel replay equals batch funnel, ties included") {
    val h = 3600_000L
    val events = ev(
      (1, 1 * h, "view"), (1, 2 * h, "click"), (1, 3 * h, "purchase"),
      (2, 2 * h, "click"), (2, 3 * h, "view"),
      (3, 1 * h, "view"), (3, 2 * h, "purchase"), (3, 3 * h, "click"),
      (4, 1 * h, "view"), (4, 1 * h, "click"))
    val stages = Seq("view", "click", "purchase")
    val batch = Behavior.funnel(events, stages)
      .orderBy("stage_idx").collect().map(_.toSeq).toSeq
    for (b <- Seq(2, 5)) { // slicing must not change the result
      val streamed = graft.streaming.StreamingFunnel
        .replayBatch(events, stages, batches = b)
        .orderBy("stage_idx").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"batches=$b")
    }
  }

  test("streaming retention replay equals batch retention under any slicing") {
    val d = 86400_000L
    val events = ev(
      (1, 0 * d, "view"), (1, 0 * d + 5000, "click"), // same-day repeat
      (1, 2 * d, "view"), (1, 2 * d + 1, "view"),     // day-2 return, twice
      (2, 1 * d, "view"), (2, 3 * d, "click"),        // second cohort
      (3, 3 * d, "view"))                             // third cohort, one day
    val batch = Behavior.retention(events)
      .orderBy("cohort_day", "day_offset").collect().map(_.toSeq).toSeq
    for (b <- Seq(2, 5)) { // slicing must not change the result
      val streamed = graft.streaming.StreamingRetention
        .replayBatch(events, batches = b)
        .orderBy("cohort_day", "day_offset").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"batches=$b")
    }
  }

  test("empty inputs: funnel emits zero-count stages, others emit nothing") {
    val empty = ev()
    val out = Behavior.funnel(empty, Seq("view", "click"))
      .orderBy("stage_idx").collect()
    assert(out.map(_.getAs[Long]("n_users")).toSeq == Seq(0L, 0L),
      "stage rows survive an empty corpus with zero counts")
    assert(Behavior.retention(empty).count() == 0)
    assert(Behavior.propsStats(empty).count() == 0)
  }

  test("anomalies flag the cohort outlier; flat cohorts flag nothing") {
    val m = 60000L
    // 'view' hour-0 cohort: nine 10.0s and one 100.0 — the spike's z is
    // large; the 10.0 rows' z ≈ -0.32. 'click' cohort is constant → sd 0.
    val events = ((1 to 9).map(i =>
        (i.toLong, new Timestamp(i * m), "view", 10.0, "{}")) ++ Seq(
        (10L, new Timestamp(10 * m), "view", 100.0, "{}"),
        (11L, new Timestamp(m), "click", 5.0, "{}"),
        (12L, new Timestamp(2 * m), "click", 5.0, "{}")))
      .toDF("event_id", "ts", "event_type", "value", "props")
    val flagged = Behavior.anomalies(events, minZ = 2.0)
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(flagged.map(_._1).toSeq == Seq(10L), s"flagged=${flagged.toSeq}")
    assert(flagged.head._2 > 2.0)
    assert(Behavior.anomalies(events, minZ = 0.1)
      .filter(col("event_type") === "click").count() == 0,
      "zero-variance cohorts must flag nothing at any threshold")
  }

  test("transitions: per-user sequencing, tie-break on id, row-normalized p") {
    val h = 3600_000L
    val events = Seq(
      // u1: A -> B -> A (ordered by ts)
      (1L, new Timestamp(1 * h), 1L, "A"), (2L, new Timestamp(2 * h), 1L, "B"),
      (3L, new Timestamp(3 * h), 1L, "A"),
      // u2: A -> C, where the tie at 1h resolves by event_id (4 before 5)
      (4L, new Timestamp(1 * h), 2L, "A"), (5L, new Timestamp(1 * h), 2L, "C"),
      // u3: a single event — contributes no step
      (6L, new Timestamp(1 * h), 3L, "B"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Behavior.transitions(events).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"), r.getAs[Double]("p"))).toSet
    assert(out == Set(
      ("A", "B", 1L, 0.5), ("A", "C", 1L, 0.5), ("B", "A", 1L, 1.0)))
  }

  test("cumulativeUsers: first-sight days, prefix-summed totals") {
    val d = 86400_000L
    val events = ev(
      (1, 0 * d, "view"), (1, 2 * d, "view"), // u1 first on day 0, returns
      (2, 0 * d, "view"),                     // u2 also day 0
      (3, 2 * d, "view"))                     // u3 first on day 2
    val out = Behavior.cumulativeUsers(events).orderBy("day").collect()
      .map(r => (r.getAs[java.sql.Date]("day").toString,
        r.getAs[Long]("new_users"), r.getAs[Long]("cum_users"))).toSeq
    assert(out == Seq(
      ("1970-01-01", 2L, 2L), ("1970-01-03", 1L, 3L)),
      "returning users must not re-count; day-1 has no row (no new users)")
  }

  test("topPaths: consecutive triples per user, global top-k with ties") {
    val h = 3600_000L
    val events = Seq(
      (1L, new Timestamp(1 * h), 1L, "A"), (2L, new Timestamp(2 * h), 1L, "B"),
      (3L, new Timestamp(3 * h), 1L, "C"), (4L, new Timestamp(4 * h), 1L, "D"),
      (5L, new Timestamp(1 * h), 2L, "A"), (6L, new Timestamp(2 * h), 2L, "B"),
      (7L, new Timestamp(3 * h), 2L, "C"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Behavior.topPaths(events, k = 5).orderBy("rk").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(("A", "B", "C", 2L, 1L), ("B", "C", "D", 1L, 2L)))
  }

  test("streaming cumulative users equals batch under any slicing") {
    val d = 86400_000L
    val events = ev(
      (1, 0 * d, "view"), (1, 2 * d, "view"), // u1 returns — no re-count
      (2, 0 * d, "view"),
      (3, 2 * d, "view"), (3, 3 * d, "view"))
    val batch = Behavior.cumulativeUsers(events)
      .orderBy("day").collect().map(_.toSeq).toSeq
    for (b <- Seq(2, 5)) {
      val streamed = graft.streaming.StreamingRetention
        .replayCumulative(events, batches = b)
        .orderBy("day").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"batches=$b")
    }
  }

  test("streaming transitions replay equals batch under any slicing") {
    val h = 3600_000L
    val events = Seq(
      (1L, new Timestamp(1 * h), 1L, "A"), (2L, new Timestamp(2 * h), 1L, "B"),
      (3L, new Timestamp(3 * h), 1L, "A"), (7L, new Timestamp(5 * h), 1L, "C"),
      (4L, new Timestamp(1 * h), 2L, "A"), (5L, new Timestamp(1 * h), 2L, "C"),
      (6L, new Timestamp(4 * h), 2L, "B"),
      (8L, new Timestamp(2 * h), 3L, "B"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = Behavior.transitions(events)
      .orderBy("from_type", "to_type").collect().map(_.toSeq).toSeq
    for (b <- Seq(2, 5)) { // slicing must not change the result
      val streamed = graft.streaming.StreamingTransitions
        .replayBatch(events, batches = b)
        .orderBy("from_type", "to_type").collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"batches=$b")
    }
  }

  test("streaming transitions: kill + checkpoint-restart still equals batch") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import graft.streaming.{FileReplay, StreamingTransitions}
    // restart-safety of the last-event keyed state: a step is emitted in
    // the epoch its successor arrives, the predecessor lives in the state
    // checkpoint — killing mid-stream and resuming must lose no step and
    // emit none twice (parquet sink + offsets checkpoint = exactly-once)
    val events = (0 until 60).map { i =>
      (i.toLong, new Timestamp(1451577600000L + i * 60000L),
        (i % 5).toLong, s"t${i % 3}")
    }.toDF("event_id", "ts", "user_id", "event_type")
    val batch = Behavior.transitions(events)
      .orderBy("from_type", "to_type").collect().map(_.toSeq).toSeq

    val (chunk, _, _) = FileReplay.timeChunks(events, "ts", 6)
    val root = FileReplay.stage(events, chunk, Seq.empty)
    val srcDir = root.resolve("src")
    val holdDir = Files.createDirectories(root.resolve("held"))
    def ls(d: Path) = {
      val s = Files.list(d)
      try s.iterator().asScala.toList.sortBy(_.getFileName.toString)
      finally s.close()
    }
    val held = ls(srcDir).takeRight(2)
    val mtimes = held.map(f => f.getFileName.toString -> f.toFile.lastModified).toMap
    held.foreach(f => Files.move(f, holdDir.resolve(f.getFileName)))

    val out = root.resolve("steps_out").toString
    val ckpt = root.resolve("steps_ckpt").toString
    def runOnce(): Unit = FileReplay.withStreamConfs(spark, FileReplay.rocksDbConfs) {
      val q = StreamingTransitions.steps(
          FileReplay.source(spark, root, events.schema))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // crash point: last two slices unseen, state checkpointed
    ls(holdDir).foreach { f =>
      val dest = srcDir.resolve(f.getFileName)
      Files.move(f, dest)
      dest.toFile.setLastModified(mtimes(f.getFileName.toString))
    }
    runOnce() // resume: only the released slices process

    val wFrom = org.apache.spark.sql.expressions.Window.partitionBy("from_type")
    val streamed = spark.read.parquet(out)
      .groupBy(col("fromType").as("from_type"), col("toType").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n") / sum(col("n")).over(wFrom), 6).as("p"))
      .orderBy("from_type", "to_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"restart diverged:\n${streamed.mkString("\n")}\nvs\n${batch.mkString("\n")}")
  }

  test("editDistancePairs: near-identical docs pass, distinct fail") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("lazy", "hazy")), // 1 substitution
      (3L, "completely different text about computational linguistics topics"))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(docs, maxRel = 0.4)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id1") == 1L && out(0).getAs[Long]("id2") == 2L)
    assert(out(0).getAs[Long]("dist") == 1L)
  }

  test("seasonality: flat type z=0 everywhere, spiked slot gets the max z") {
    def at(day: Int, h: Int, rep: Int) = (0 until rep).map(r =>
      // Jan 4 2024 is a Thursday; add days/hours from there
      new Timestamp(1704326400000L + ((day * 24L + h) * 3600L + r) * 1000L))
    val rows =
      at(0, 1, 1).map(ts => (1L, ts, "flat", 0.0, "")) ++
      at(1, 1, 1).map(ts => (2L, ts, "flat", 0.0, "")) ++
      at(0, 2, 1).map(ts => (3L, ts, "spiky", 0.0, "")) ++
      at(1, 2, 1).map(ts => (4L, ts, "spiky", 0.0, "")) ++
      at(2, 2, 8).map(ts => (5L, ts, "spiky", 0.0, ""))  // the spike
    val df = rows.toDF("user_id", "ts", "event_type", "value", "props")
    val out = Behavior.seasonality(df).collect()
    assert(out.filter(_.getString(0) == "flat")
      .forall(_.getAs[Double]("z") == 0.0), out.mkString(";"))
    val spiky = out.filter(_.getString(0) == "spiky")
    val top = spiky.maxBy(_.getAs[Double]("z"))
    assert(top.getAs[Long]("n") == 8L && top.getAs[Double]("z") > 1.0,
      spiky.mkString(";"))
  }

  test("windowDedup: debounce vs immediate predecessor, even a dropped one") {
    def t(s: Long) = new Timestamp(1704326400000L + s * 1000L)
    val df = Seq(
      (1L, t(0), 7L, "click", 0.0),
      (2L, t(5), 7L, "click", 0.0),    // 5s after 1 → dropped
      (3L, t(20), 7L, "click", 0.0),   // 15s after DROPPED 2 → kept
      (4L, t(21), 7L, "view", 0.0),    // other type untouched
      (5L, t(25), 8L, "click", 0.0)    // other user untouched
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val kept = Behavior.windowDedup(df, Seq("user_id", "event_type"),
        windowSec = 10)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L, 5L), kept)
  }

  test("rollingActive: window unions distinct users; silent days not emitted") {
    def d(day: Int) = new Timestamp(1704067200000L + day * 86400000L) // 2024-01-01 + day
    val df = Seq(
      (1L, d(0), "view", 0.0, ""), (2L, d(0), "view", 0.0, ""),
      (1L, d(0), "click", 0.0, ""),            // same user same day: no double count
      (1L, d(1), "view", 0.0, ""),
      (2L, d(3), "view", 0.0, "")
    ).toDF("user_id", "ts", "event_type", "value", "props")
    val out = Behavior.rollingActive(df, windowDays = 2)
      .collect().map(r => r.getTimestamp(0).getTime ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("active")))).toMap
    assert(out.size == 3, out)                  // day 2 silent -> absent
    assert(out(d(0).getTime) == (2L, 2L))       // {u1,u2} both days -1..0
    assert(out(d(1).getTime) == (1L, 2L))       // dau u1; window day0-1 = {u1,u2}
    assert(out(d(3).getTime) == (1L, 1L))       // dau u2; window day2-3 = {u2}
  }

  test("multiTouchAttribution: 1/k per conversion, summed per click") {
    def t(m: Int) = new Timestamp(1451577600000L + m * 60000L)
    val events = Seq(
      (10L, t(0), 1L, "click"),     // touches p@30 only (p@65 is 65m away)
      (11L, t(10), 1L, "click"),    // touches p@30 AND p@65
      (12L, t(30), 1L, "purchase"), // k=2 → ½ credit each
      (13L, t(65), 1L, "purchase"), // k=1 → full credit to click@10
      (14L, t(0), 2L, "click")      // never converts → absent
    ).map { case (e, ts, u, ty) => (e, ts, u, ty, 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Behavior.multiTouchAttribution(events, horizonMin = 60)
      .collect()
      .map(r => r.getLong(r.fieldIndex("click_id")) ->
        ((r.getLong(r.fieldIndex("n_conversions")),
          r.getDouble(r.fieldIndex("credit"))))).toMap
    assert(got == Map(10L -> ((1L, 0.5)), 11L -> ((2L, 1.5))), s"$got")
    // conservation: total credit == number of attributed conversions
    assert(got.values.map(_._2).sum == 2.0)
  }
}
