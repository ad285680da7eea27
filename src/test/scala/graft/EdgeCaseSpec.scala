package graft

import java.sql.Timestamp

import graft.model.Tick
import graft.operators.{AsOfJoin, Candles, Correlations, Dedup, TextAnalysis}

/** Degenerate inputs under Spark 4 ANSI mode: empty relations, singletons,
  * and empty text must flow through every operator without throwing.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def ticks(rows: (String, Long, Double)*) =
    rows.map { case (k, ts, v) =>
      Tick(k, new Timestamp(ts), Some(v), Some(v), isLive = true)
    }.toDF()

  private val emptyTicks = Seq.empty[Tick].toDF()

  test("candle pipeline on empty and singleton input") {
    assert(Candles.aggregate(emptyTicks, "120 seconds").count() == 0)
    val one = Candles.aggregate(ticks(("A", 1000L, 5.0)), "120 seconds").collect()
    assert(one.length == 1)
    val c = one(0)
    assert(c.getAs[Boolean]("isLive"))
    // first candle seeds open := its own close
    assert(c.getAs[org.apache.spark.sql.Row]("open") ==
      c.getAs[org.apache.spark.sql.Row]("close"))
  }

  test("correlations on empty, singleton-key, and single-point inputs") {
    assert(Correlations.fromCandles(
      Candles.aggregate(emptyTicks, "120 seconds")).count() == 0)
    // one key: no pairs
    val c1 = Candles.aggregate(ticks(
      ("A", 0L, 1.0), ("A", 60000L, 2.0), ("A", 120000L, 3.0)), "60 seconds")
    assert(Correlations.fromCandles(c1, "600 seconds", "300 seconds", 0.0).count() == 0)
    // two keys but only one aligned point: pair skipped (n < 2)
    val c2 = Candles.aggregate(ticks(
      ("A", 0L, 1.0), ("B", 0L, 2.0)), "60 seconds")
    assert(Correlations.fromCandles(c2, "600 seconds", "300 seconds", 0.0,
      propagateNaN = true).count() == 0)
  }

  test("as-of join with empty right side null-extends every left row") {
    val left = ticks(("A", 1000L, 1.0))
    val right = emptyTicks
    val out = AsOfJoin.backward(left, right).collect()
    assert(out.length == 1 && out(0).isNullAt(left.columns.length))
  }

  test("text + dedup operators accept empty documents") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "one real doc here")).toDF("doc_id", "text")
    assert(TextAnalysis.tokenStats(docs).count() == 3)
    assert(TextAnalysis.quality(docs).count() == 3)
    assert(TextAnalysis.langId(docs).count() == 3)
    assert(TextAnalysis.fingerprint(docs).count() == 3)
    assert(Dedup.simHash(docs).count() <= 3)          // empty docs have no tokens
    assert(Dedup.ngramJaccard(docs).count() == 0)     // nothing shares shingles
    assert(Dedup.minHashLsh(docs).count() == 0)
  }

  test("tfidf, redact and int8 quantization on degenerate inputs") {
    // empty / whitespace / all-stopword docs contribute no terms but still
    // count toward N; nothing throws under ANSI mode
    val docs = Seq((1L, ""), (2L, "   "), (3L, "the a of to"),
      (4L, "real words here")).toDF("doc_id", "text")
    val tf = TextAnalysis.tfIdf(docs, k = 5)
    assert(tf.count() == 3 &&
      tf.select("doc_id").distinct().count() == 1) // only doc 4 has terms
    val red = TextAnalysis.redact(docs)
    assert(red.count() == 4 &&
      red.filter(org.apache.spark.sql.functions.col("n_emails") =!= 0).count() == 0)

    // empty embedding array and a singleton corpus
    val vecs = Seq((1L, Array.empty[Double]), (2L, Array(1.0, 2.0)))
      .toDF("vec_id", "embedding")
    val qs = vecs.select(org.apache.spark.sql.functions.col("vec_id"),
      graft.operators.Similarity.quantizeInt8(
        org.apache.spark.sql.functions.col("embedding")).as("qs"))
    assert(qs.count() == 2) // empty array → scale 0, empty q, no throw
  }

  test("connected components: chains merge, singletons isolate, empty is empty") {
    // chain 1-2-3 (via two pairs) + pair 7-9 + no pair for 5
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("id1", "id2")
    val comp = Dedup.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    assert(Dedup.components(pairs.limit(0)).count() == 0)
    // a long path needs multiple propagation rounds: 1-2-...-9
    val path = (1L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val pc = Dedup.components(path).collect().map(r => r.getLong(1)).distinct
    assert(pc.toSeq == Seq(1L), s"path should collapse to one component: ${pc.toSeq}")
  }

  test("rollup: OHLC-of-OHLC merges states by time, extremes by value") {
    def ts(minute: Int) = new java.sql.Timestamp(minute * 60000L)
    // two 1-minute candles in the same 2-minute bucket + one in the next
    val flat = Seq(
      ("A", ts(0), ts(0), ts(0), 5.0, 9.0, 4.0, 8.0, true),
      ("A", ts(1), ts(0), ts(1), 3.0, 7.0, 2.0, 6.0, false),
      ("A", ts(2), ts(1), ts(2), 1.0, 2.0, 1.0, 2.0, true))
      .toDF("key", "closeTime", "openStateTime", "closeStateTime",
        "minAskPrice", "maxAskPrice", "minBidPrice", "maxBidPrice", "isLive")
    val got = graft.operators.Candles.rollUp(flat, "120 seconds")
      .orderBy("closeTime").collect()
    assert(got.length == 2)
    val b0 = got(0)
    assert(b0.getTimestamp(1) == ts(1), "closeTime = latest sub-candle's")
    assert(b0.getTimestamp(2) == ts(0) && b0.getTimestamp(3) == ts(1),
      "open state from earliest, close state from latest")
    assert(b0.getDouble(4) == 3.0 && b0.getDouble(5) == 9.0 &&
      b0.getDouble(6) == 2.0 && b0.getDouble(7) == 8.0)
    assert(b0.getBoolean(8), "any live sub-candle makes the bucket live")
  }

  test("kmeans: separable clusters recovered from same-side seeds") {
    // seeds are ids 1 and 2 — both in the left cluster — so recovery needs
    // the iterations to actually move the centroids
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.2f, 0.0f)), (3L, Array(0.1f, 0.1f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.2f, 10.0f)), (6L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.kMeans(vecs, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(Seq(1L, 2L, 3L).map(got).distinct.size == 1, s"left cluster split: $got")
    assert(Seq(4L, 5L, 6L).map(got).distinct.size == 1, s"right cluster split: $got")
    assert(got(1L) != got(4L), s"clusters merged: $got")
  }

  test("ivf with trained centroids: nprobe=1 stays inside the query's cluster") {
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.2f, 0.1f)), (3L, Array(0.1f, 0.2f)),
      (4L, Array(0.3f, 0.0f)),
      (11L, Array(10.0f, 10.0f)), (12L, Array(10.2f, 10.1f)),
      (13L, Array(10.1f, 10.2f)), (14L, Array(10.3f, 10.0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.operators.Similarity.kMeansCentroids(vecs, k = 2, iters = 3)
    val got = graft.operators.Similarity
      .ivfTopK(vecs, vecs.filter($"vec_id".isin(2L, 12L)), k = 2, nprobe = 1,
        centroids = Some(cents))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 4, s"2 queries x top-2: $got")
    assert(got.filter(_._1 == 2L).forall(_._2 < 10L), s"left query left ring: $got")
    assert(got.filter(_._1 == 12L).forall(_._2 >= 10L), s"right query right ring: $got")
  }

  test("interpolation fill: linear between lives, carry trailing, null leading") {
    import org.apache.spark.sql.functions.{col, struct, lit}
    val rows = Seq(
      // (minute, isLive, price): leading gap, live 10, two gaps, live 16, trailing gap
      (0, false, None), (1, true, Some(10.0)), (2, false, None),
      (3, false, None), (4, true, Some(16.0)), (5, false, None))
    val df = rows.map { case (m, live, p) => ("A", new java.sql.Timestamp(m * 60000L), live, p) }
      .toDF("key", "closeTime", "isLive", "p")
      .withColumn("close", struct(col("p").as("askPrice"), col("p").as("bidPrice")))
    val got = graft.operators.Candles.interpolate(df)
      .orderBy("closeTime").collect()
      .map(r => if (r.isNullAt(3)) None else Some(r.getDouble(3))).toSeq
    assert(got == Seq(None, Some(10.0), Some(12.0), Some(14.0), Some(16.0), Some(16.0)), got)
  }

  test("rolling stats: trailing frame, single-row stddev null, keys independent") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 5.0), ("b", 1, 10.0))
      .toDF("k", "t", "v")
    val out = graft.operators.Rolling.stats(df, "k", "t", col("v"), 2)
      .orderBy("k", "t").collect()
    // a@1: frame {1.0}; a@2: {1,3}; a@3: {3,5}; b@1: {10}
    assert(out.map(_.getLong(2)).toSeq == Seq(1L, 2L, 2L, 1L))
    assert(out.map(_.getDouble(3)).toSeq == Seq(1.0, 2.0, 4.0, 10.0))
    assert(out(0).isNullAt(6) && out(3).isNullAt(6), "1-row frame stddev must be null")
    assert(math.abs(out(1).getDouble(6) - math.sqrt(2.0)) < 1e-12)
  }

  test("replay on empty input fails fast with a clear message") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(String, java.sql.Timestamp)].toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.FileReplay.timeChunks(empty, "ts", 4)
    }
    assert(e.getMessage.contains("at least one input row"), e.getMessage)
  }

  test("kmeans: k larger than the corpus degrades to per-vector clusters") {
    val vecs = Seq((1L, Array(0.0f, 1.0f)), (2L, Array(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.kMeans(vecs, k = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(got == Map(1L -> 0, 2L -> 1), got)
  }

  test("candle universe: a key with zero ticks still gets gap-fill candles") {
    import org.apache.spark.sql.functions.col
    val ticks = Seq(("A", new java.sql.Timestamp(0L), Some(1.0), Some(1.0), true))
      .toDF("key", "ts", "bidPrice", "askPrice", "isLive")
    val candles = graft.operators.Candles.aggregate(
      ticks, "60 seconds", universe = Some(Seq("A", "GHOST")))
    val ghost = candles.filter(col("key") === "GHOST").collect()
    assert(ghost.length == 1, s"ghost key must appear: ${ghost.length}")
    assert(!ghost(0).getAs[Boolean]("isLive"))
  }

  test("drawdown: peak-relative, null-transparent, never positive") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", 1, Some(10.0)), ("a", 2, Some(8.0)), ("a", 3, None),
      ("a", 4, Some(12.0)), ("a", 5, Some(6.0)))
      .toDF("k", "t", "v")
    val got = graft.operators.Rolling.drawdown(df, "k", "t", col("v"))
      .orderBy("t").collect()
      .map(r => if (r.isNullAt(2)) None
        else Some(math.round(r.getDouble(2) * 1e9) / 1e9)).toSeq
    assert(got == Seq(Some(0.0), Some(-0.2), None, Some(0.0), Some(-0.5)), got)
  }

  test("macd: zero on constant series, fast-over-slow sign on a ramp") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val const = (1 to 20).map(i => ("K", i, 5.0)).toDF("key", "t", "v")
    val m0 = graft.operators.Rolling.macd(const, "key", "t", col("v"))
      .select("macd", "signal", "hist").as[(Double, Double, Double)].collect()
    m0.foreach { case (m, s, h) =>
      assert(math.abs(m) < 1e-12 && math.abs(s) < 1e-12 && math.abs(h) < 1e-12)
    }
    // rising series: the faster EWMA tracks the rise closer → macd > 0
    val ramp = (1 to 20).map(i => ("K", i, i * 1.0)).toDF("key", "t", "v")
    val mr = graft.operators.Rolling.macd(ramp, "key", "t", col("v"))
      .filter(col("t") > 5).select("macd").as[Double].collect()
    assert(mr.forall(_ > 0), s"macd must be positive on a ramp: ${mr.mkString(",")}")
    // both window passes share one partitioning: a single exchange
    val p = graft.operators.Rolling.macd(ramp, "key", "t", col("v"))
      .queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.trim.startsWith("+- Exchange")) == 1,
      s"macd should shuffle exactly once:\n$p")
  }

  test("rsi and bollinger conventions on constant and monotone series") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val const = (1 to 15).map(i => ("K", i, 9.0)).toDF("key", "t", "v")
    val rise = (1 to 15).map(i => ("K", i, i * 2.0)).toDF("key", "t", "v")

    val rsiConst = graft.operators.Rolling.rsi(const, "key", "t", col("v"))
      .select("rsi").as[Double].collect()
    assert(rsiConst.forall(_ == 50.0), "flat series must read RSI 50")
    val rsiRise = graft.operators.Rolling.rsi(rise, "key", "t", col("v"))
      .select("rsi").as[Double].collect()
    assert(rsiRise.forall(_ == 100.0), "loss-free series must read RSI 100")

    val bb = graft.operators.Rolling.bollinger(const, "key", "t", col("v"))
      .select("bb_mid", "bb_lower", "bb_upper", "bb_pctb").collect()
    bb.tail.foreach { r => // first row: single-point frame, sd null
      assert(r.getDouble(0) == 9.0 && r.getDouble(1) == 9.0 && r.getDouble(2) == 9.0)
      assert(r.isNullAt(3), "constant frame must have null %B, not FP noise")
    }
  }

  test("twap: holding-time weights, last tick runs to window end") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // 60 s window [0, 60): price 10 held 45 s, price 20 held 15 s
    val ticks = Seq(
      ("A", new Timestamp(0L), 10.0),
      ("A", new Timestamp(45000L), 20.0),
      ("B", new Timestamp(30000L), 7.0)) // single tick: twap == price
      .toDF("key", "ts", "p")
    val r = graft.operators.Rolling.twap(ticks, "key", "ts", col("p"), "60 seconds")
      .select("key", "twap", "tick_avg", "n_ticks")
      .as[(String, Double, Double, Long)].collect().sortBy(_._1)
    assert(r(0) == (("A", 12.5, 15.0, 2L)), s"${r(0)}") // (10·45+20·15)/60
    assert(r(1) == (("B", 7.0, 7.0, 1L)))
  }

  test("ewma: hand-computed weights with finite-history normalization") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0))
      .toDF("k", "t", "v")
    val got = graft.operators.Rolling.ewma(df, "k", "t", col("v"), n = 3, alpha = 0.5)
      .orderBy("t").collect().map(_.getDouble(2))
    val want = Seq(1.0, 2.5 / 1.5, 4.25 / 1.75)
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-12, s"got ${got.toSeq}, want $want")
    }
  }

  test("sampling: membership survives repartitioning; stratified takes k per group") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "grp")
    val s1 = graft.operators.Sampling.bernoulli(df, col("id"), 0.2)
      .collect().map(_.getLong(0)).sorted.toSeq
    val s2 = graft.operators.Sampling.bernoulli(df.repartition(7), col("id"), 0.2)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(s1 == s2, "sample membership must not depend on partitioning")
    assert(s1.size > 100 && s1.size < 300, s"~20% of 1000 expected, got ${s1.size}")

    val st = graft.operators.Sampling.stratified(df, Seq("grp"), col("id"), 10)
      .groupBy("grp").count().collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(st == Map("a" -> 10L, "b" -> 10L), st)
  }

  test("temperatureSample: alpha flattens the source mix, stays deterministic") {
    import org.apache.spark.sql.functions.col
    val df = ((1L to 900L).map(i => (i, "big")) ++
      (901L to 1000L).map(i => (i, "small"))).toDF("id", "src")
    // alpha = 0: equal per-source budget (100 each from a 200 target)
    val flat = graft.operators.Sampling
      .temperatureSample(df, "src", col("id"), alpha = 0.0, target = 200L)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5-thinning is binomial around the quantized rate; big gets
    // thresh 111111 (100/900), small gets 1000000 (100/100 = keep all)
    assert(flat("small") == 100L, flat)
    assert(flat("big") > 60 && flat("big") < 140, flat)
    // alpha = 1: natural mix — rates equal across sources (200/1000 each)
    val nat = graft.operators.Sampling
      .temperatureSample(df, "src", col("id"), alpha = 1.0, target = 200L)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nat("big") > 120 && nat.getOrElse("small", 0L) < 50,
      s"natural mix must keep the 9:1 skew: $nat")
    // deterministic under repartitioning
    val a = graft.operators.Sampling
      .temperatureSample(df, "src", col("id"), alpha = 0.7, target = 300L)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = graft.operators.Sampling
      .temperatureSample(df.repartition(7), "src", col("id"), alpha = 0.7,
        target = 300L)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b)
  }

  test("weightedTopK: partition-stable, weight-biased, excludes w <= 0") {
    import org.apache.spark.sql.functions.col
    // ids 1-500 weight 1, ids 501-1000 weight 20, plus poisoned rows that
    // must never be sampled
    val df = ((1L to 500L).map(i => (i, 1L)) ++
      (501L to 1000L).map(i => (i, 20L)) ++
      Seq((1001L, 0L), (1002L, -5L))).toDF("id", "w")
    val pick = graft.operators.Sampling
      .weightedTopK(df, col("id"), col("w"), k = 100)
      .collect().map(_.getLong(0)).sorted.toSeq
    val pick2 = graft.operators.Sampling
      .weightedTopK(df.repartition(7), col("id"), col("w"), k = 100)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pick == pick2, "selection must not depend on partitioning")
    assert(pick.size == 100)
    assert(!pick.exists(_ > 1000L), "non-positive weights must be excluded")
    val heavy = pick.count(_ > 500L)
    // E[heavy] ≈ 95 under 20:1 weighting; < 70 would mean the bias is broken
    assert(heavy > 70, s"20x-weighted rows under-sampled: $heavy/100")
  }

  test("packing: oversized and zero-token docs, bucket width invariance") {
    import org.apache.spark.sql.functions.col
    // budget 10: doc 3 straddles a boundary, doc 4 is OVERSIZED (25 > 10),
    // doc 5 lands mid-stream after it, doc 6 is EMPTY (0 tokens)
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 25L), (5L, 2L), (6L, 0L))
      .toDF("doc_id", "n_tokens")
    def run(width: Long) = graft.operators.Packing
      .packSequences(docs, budget = 10L, bucketWidth = width)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val got = run(8192L)
    val expected = Seq( // (doc_id, tok_start, seq_id, seq_offset, spans)
      (1L, 0L, 0L, 0L, 1L),   // fits
      (2L, 4L, 0L, 4L, 1L),   // fills seq 0 exactly
      (3L, 9L, 0L, 9L, 2L),   // straddles 0→1
      (4L, 12L, 1L, 2L, 3L),  // oversized: spans seqs 1,2,3
      (5L, 37L, 3L, 7L, 1L),  // resumes inside seq 3
      (6L, 39L, 3L, 9L, 1L))  // zero tokens: occupies its start slot
    assert(got == expected, s"\ngot:      $got\nexpected: $expected")
    // the two-level prefix sum must be invariant to how ids are bucketed
    assert(run(1L) == expected && run(2L) == expected && run(3L) == expected,
      "bucketWidth must not change assignments")
    // empty input flows through
    assert(graft.operators.Packing.packSequences(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"), 10L).count() == 0)
  }

  test("packIncrement: pack(A) ++ increment(B) == pack(A ∪ B); guard trips on overlap") {
    import graft.operators.Packing
    // token counts chosen to exercise straddles and an oversized doc in
    // BOTH halves; ids deliberately non-contiguous across the split
    val a = Seq((1L, 4L), (2L, 5L), (3L, 3L), (7L, 25L)).toDF("doc_id", "n_tokens")
    val b = Seq((9L, 2L), (12L, 0L), (15L, 11L)).toDF("doc_id", "n_tokens")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val packedA = Packing.packSequences(a, budget = 10L)
    val st = Packing.packState(packedA)
    assert(st == Packing.PackState(37L, 7L), st)
    val incremental = rows(packedA) ++ rows(Packing.packIncrement(b, 10L, st))
    val full = rows(Packing.packSequences(a.unionByName(b), budget = 10L))
    assert(incremental == full, s"\nincremental: $incremental\nfull:        $full")
    // state recovered from the COMBINED manifest chains to a third epoch
    val st2 = Packing.packState(Packing.packSequences(a.unionByName(b), 10L))
    val c = Seq((20L, 6L)).toDF("doc_id", "n_tokens")
    assert(rows(Packing.packIncrement(c, 10L, st2)) ==
      rows(Packing.packSequences(a.unionByName(b).unionByName(c), 10L)).takeRight(1))
    // append-only violation: an id at/below packed maxId must FAIL, not
    // silently mispack
    val bad = Seq((7L, 1L)).toDF("doc_id", "n_tokens")
    val e = intercept[Exception] {
      Packing.packIncrement(bad, 10L, st).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("append-only"), msgs)
    // empty state: increment from nothing == plain pack
    assert(rows(Packing.packIncrement(a, 10L,
      Packing.PackState(0L, Long.MinValue))) ==
      rows(Packing.packSequences(a, 10L)))
  }

  test("mixture: proportions near targets, deterministic, binding source ~whole") {
    val mk = (base: Long, sz: Int) =>
      (0 until sz).map(i => base + i).toDF("doc_id")
    // c1 is binding: n1/w1 = 600/0.3 < 4000/0.6 < 1000/0.1
    val sources = Seq("c0" -> mk(0L, 4000), "c1" -> mk(100000L, 600),
      "c2" -> mk(200000L, 1000))
    val mix = graft.operators.Sampling
      .mixture(sources, Seq(600L, 300L, 100L))
    val bys = mix.groupBy("source").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // T = 600*1000//300 = 2000 → targets: 1200 / 600 / 200 (± hash noise)
    assert(math.abs(bys("c0") - 1200L) < 120, bys)
    assert(bys("c1") == 600L, s"binding source taken whole: $bys") // thresh = 10^6
    assert(math.abs(bys("c2") - 200L) < 60, bys)
    // determinism: partitioning must not change membership
    val again = graft.operators.Sampling
      .mixture(sources.map { case (n, df) => (n, df.repartition(7)) },
        Seq(600L, 300L, 100L))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(again == mix.collect().map(r => (r.getString(0), r.getLong(1))).toSet)
  }

  test("minHashLshAgainst == cross-parity subset of the full self-join") {
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = (Seq(
      (2L, near), (3L, near + " truly"), (5L, near + " okay"), // cross + within
      (8L, near + " fine")) ++
      (10L to 60L by 10).map(i =>
        (i, s"completely unrelated filler text number $i about spark plans " +
          s"and shuffle exchanges variant $i"))).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id1", "id2", "jac").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val full = pairs(graft.operators.Dedup.minHashLsh(docs, minJaccard = 0.3))
    val cross = pairs(graft.operators.Dedup.minHashLshAgainst(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
      minJaccard = 0.3))
    val expected = full.filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 0) (a, b, j) else (b, a, j) }
      .sorted
    assert(full.exists { case (a, b, _) => a % 2 == b % 2 },
      "fixture must contain a same-side pair the probe must NOT emit")
    assert(expected.nonEmpty && cross == expected,
      s"\ncross:    $cross\nexpected: $expected")
  }

  test("verifyJaccardSets: large-candidate (unhinted/AQE) path equals broadcast path") {
    // the broadcast gate: candCount over the bound must drop the hint and
    // leave the join to AQE — values must be identical either way
    val near = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq((1L, near), (2L, near + " truly"), (3L, near + " okay"),
      (4L, "completely unrelated filler text about spark plans and shuffles"))
      .toDF("doc_id", "text")
    val sets = graft.operators.Dedup.shingleRows(docs, "text", "doc_id", 3)
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.collect_list("sh").as("shs"))
    val cand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("id1", "id2")
    def run(cnt: Long, bound: Long) =
      graft.operators.Dedup.verifyJaccardSets(cand, sets, 0.3, cnt, bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val hinted = run(4L, bound = 100L)      // 4 <= 100 → broadcast hint
    val unhinted = run(4L, bound = 2L)      // 4 > 2 → AQE decides
    assert(hinted.nonEmpty, "fixture must verify at least one pair")
    assert(unhinted == hinted, s"\nhinted:   $hinted\nunhinted: $unhinted")
    // the gate is visible in the optimized plan: a forced broadcast shows a
    // ResolvedHint/broadcast exchange on the candidate side only when hinted
    def planOf(cnt: Long, bound: Long) =
      graft.operators.Dedup.verifyJaccardSets(cand, sets, 0.3, cnt, bound)
        .queryExecution.optimizedPlan.toString
    assert(planOf(4L, 100L).contains("broadcast"))
    assert(!planOf(4L, 2L).contains("broadcast"))
  }

  test("hammingPairs: banded candidates + verify == exact Hamming<=3 relation") {
    // 50 random 64-bit bases (negatives included — band 3 must mask the
    // arithmetic shift's sign extension); each gets a NEAR partner at
    // distance 0..3 (flips in bits 0..31) that MUST surface, and a FAR
    // partner at distance 4..10 (flips in bits 32..63, disjoint from the
    // near flips so near↔far distance = d1+d2 > 3) that must NOT. Random
    // cross-base distances sit ~32 bits — astronomically outside the
    // threshold — so the expected relation is exactly the planted pairs.
    val rng = new scala.util.Random(20250816L)
    def flip(h: Long, lo: Int, hi: Int, n: Int): Long = {
      var out = h
      rng.shuffle((lo until hi).toList).take(n).foreach(b => out ^= 1L << b)
      out
    }
    val rows = (0 until 50).flatMap { i =>
      val base = rng.nextLong()
      val dNear = rng.nextInt(4)
      val dFar = 4 + rng.nextInt(7)
      Seq((i * 3L, base), (i * 3L + 1, flip(base, 0, 32, dNear)),
        (i * 3L + 2, flip(base, 32, 64, dFar)))
    }
    val df = rows.toDF("id", "h")
    val got = Dedup.hammingPairs(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want =
      (for {
        a <- rows; b <- rows
        if a._1 < b._1
        d = java.lang.Long.bitCount(a._2 ^ b._2)
        if d <= 3
      } yield (a._1, b._1, d)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // every planted near pair (and nothing beyond plants) is in the set
    assert(want.nonEmpty && want.forall { case (a, b, _) => b == a + 1 })
  }

  test("survivors: cluster non-representatives dropped, unpaired docs kept") {
    val docs = (1L to 9L).toDF("doc_id")
    val pairs = Seq((2L, 1L), (2L, 3L), (9L, 7L)).toDF("id1", "id2")
    val kept = graft.operators.Dedup.survivors(docs, pairs)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 6L, 7L, 8L), kept)
  }

  test("embeddingNearDup: block over maxBlock splits but output is identical") {
    // one 12-row block — guarded run (maxBlock = 4 → S = 3 sub-blocks, the
    // triangular cell fan-out) must equal the unguarded single-cell run
    val vecs = (0L until 12L).map(i =>
      (i, "blk", Array((1.0 + i % 3).toFloat, (2.0 + i % 5).toFloat, i.toFloat)))
      .toDF("vec_id", "block", "embedding")
    def run(maxBlock: Int) =
      graft.operators.Dedup.embeddingNearDup(vecs, "block", minCos = 0.5,
        maxBlock = maxBlock)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).sorted.toSeq
    val guarded = run(4)
    val unguarded = run(10000)
    assert(guarded.nonEmpty, "fixture must produce near-dup pairs")
    assert(guarded == unguarded, s"guarded $guarded != unguarded $unguarded")
  }

  test("semanticDedup: keep-first within learned clusters, cross-cluster blind") {
    // seeds = two smallest ids, one per direction → clean 2-means;
    // parallel vectors have cosine exactly 1.0 at any scale
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0f, 1f, 0f)),
      (2L, Array(2f, 0f, 0f)), (3L, Array(3f, 0f, 0f)),
      (4L, Array(0f, 2f, 0f)), (5L, Array(0.7f, 0.7f, 0f)))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Dedup.semanticDedup(vecs, k = 2, iters = 2,
        minCos = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sortBy(_._1).toSeq
    assert(out.size == 6, out)
    val dupOf = out.map(t => t._1 -> t._3).toMap
    assert(out.filterNot(_._2).map(_._1) == Seq(0L, 1L, 5L), s"kept: $out")
    assert(dupOf(2L) == 0L && dupOf(3L) == 0L && dupOf(4L) == 1L, out)
  }

  test("ann recall@5 floors on sf0.001: quantized near-exact, ivf mid, lsh nonzero") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val rec = S.recallAtK(
      S.bruteForceTopK(emb, qs, 5),
      Seq("ivf" -> S.ivfTopK(emb, qs, 5),
        "lsh" -> S.lshTopK(emb, qs, 5),
        "quantized" -> S.quantizedTopK(emb, qs, 5),
        "pq" -> S.pqTopK(emb, qs, 5),
        "pq_rerank" -> S.pqRerankTopK(emb, qs, 5, shortlist = 100)))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    graft.operators.Caches.release(spark)
    assert(rec.values.forall(v => v >= 0.0 && v <= 1.0), rec)
    // floors just under the measured sf0.001 values (0.96 / 0.48 / 0.04):
    // a drop below these is a recall REGRESSION, not noise — every input to
    // the measurement is deterministic
    assert(rec("quantized") >= 0.9, s"int8 quantization recall: $rec")
    assert(rec("ivf") >= 0.3, s"ivf recall: $rec")
    assert(rec("lsh") >= 0.02, s"lsh recall: $rec")
    // measured 0.34 at m=16/k=16/iters=3 (pure ADC, no exact re-rank)
    assert(rec("pq") >= 0.25, s"pq recall: $rec")
    // the shortlist→exact second stage (Jégou 2011): the ADC top-100
    // shortlist (the gate's pqRerankShortlist) re-scored with the exact
    // cosine must recover near-exact order
    assert(rec("pq_rerank") >= 0.9, s"pq_rerank recall: $rec")
    assert(rec("pq_rerank") > rec("pq"), s"re-rank must beat raw ADC: $rec")
    info(s"recall@5: $rec")
  }

  test("nn-descent: refinement rounds converge on clustered data") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    // 200 vectors in 4 tight clusters (deterministic hash jitter): the
    // regime NN-Descent is FOR — neighbors-of-neighbors stay in-cluster, so
    // rounds should climb from the random hash-bucket seed toward the exact
    // graph. (On the driver's near-random embeddings recall legitimately
    // tracks the explored fraction — see BASELINE's g-tier ANN study — so
    // convergence is asserted here, on data with locality.)
    val centers = Seq(
      Seq(10.0f, 0.0f, 0.0f, 0.0f), Seq(0.0f, 10.0f, 0.0f, 0.0f),
      Seq(0.0f, 0.0f, 10.0f, 0.0f), Seq(0.0f, 0.0f, 0.0f, 10.0f))
    def jit(i: Long, d: Int): Float =
      (((i * 2654435761L + d * 40503L) % 1000L) / 1000.0f - 0.5f) * 0.4f
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.indices.map(d => c(d) + jit(i, d)).toArray)
    }.toDF("vec_id", "embedding")
    val exact = graft.operators.Caches.pin(
      S.bruteForceTopK(vecs, vecs, 5)
        .select(col("q_id"), col("neighbor")))
    def recall(iters: Int): Double = {
      val g = S.nnDescent(vecs, k = 5, iters = iters, seedBuckets = 20)
        .withColumnRenamed("vec_id", "q_id")
      S.recallAtK(exact, Seq(s"i$iters" -> g))
        .collect().head.getAs[Double]("recall")
    }
    val r0 = recall(0); val r2 = recall(2); val r4 = recall(4)
    graft.operators.Caches.release(spark)
    // measured curve: 0.106 (seed) → 0.29 → 0.644 → 0.938 → 0.99 — floors
    // leave margin but pin the SHAPE (every input is deterministic; a drop
    // is a regression, not noise)
    assert(r0 < 0.3, s"hash-bucket seed should start far from exact: $r0")
    assert(r2 >= 0.5, s"two rounds should multiply explored radius: $r2")
    assert(r4 >= 0.95, s"four rounds should near-converge in-cluster: $r4")
  }

  test("graph beam search: finds brute-force answers on a navigable graph") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val centers = Seq(
      Seq(10.0f, 0.0f, 0.0f, 0.0f), Seq(0.0f, 10.0f, 0.0f, 0.0f),
      Seq(0.0f, 0.0f, 10.0f, 0.0f), Seq(0.0f, 0.0f, 0.0f, 10.0f))
    def jit(i: Long, d: Int): Float =
      (((i * 2654435761L + d * 40503L) % 1000L) / 1000.0f - 0.5f) * 0.4f
    val vecs = (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.indices.map(d => c(d) + jit(i, d)).toArray)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 20 === 0) // 10 queries, all clusters
    val graph = S.nnDescent(vecs, k = 5, iters = 4, seedBuckets = 20)
    val exact = S.bruteForceTopK(vecs, queries, 5)
      .select(col("q_id"), col("neighbor"))
    val found = S.graphSearch(vecs, queries, graph, k = 5, beam = 10,
        hops = 3, entryStride = 10)
      .withColumnRenamed("qid", "q_id").withColumnRenamed("vec_id", "neighbor")
    val rec = S.recallAtK(exact, Seq("beam" -> found))
      .collect().head.getAs[Double]("recall")
    graft.operators.Caches.release(spark)
    // strided coarse entry lands the frontier in the query's own
    // neighborhood; 3 hops on a converged in-cluster graph must recover
    // nearly all exact neighbors (measured 1.0; the floor leaves
    // determinism margin only)
    assert(rec >= 0.9, s"beam search recall@5 on navigable graph: $rec")
    // id-equal rows are excluded from the answer (bruteForceTopK parity)
    assert(found.filter(col("q_id") === col("neighbor")).count() == 0L)
  }

  test("nn-descent: graph shape — no self edges, ranks contiguous, deterministic") {
    import org.apache.spark.sql.functions.col
    val S = graft.operators.Similarity
    val vecs = (0L until 60L)
      .map(i => (i, Array(((i * 37) % 13).toFloat, ((i * 11) % 7).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val g = S.nnDescent(vecs, k = 3, iters = 2, seedBuckets = 10)
    val rows = g.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)), "self edge")
    val ranks = rows.groupBy(_.getLong(0)).values
    assert(ranks.forall(rs =>
      rs.map(_.getInt(3)).sorted.toSeq == (1 to rs.length).toSeq),
      "per-vector ranks must be 1..m contiguous")
    assert(rows.length == g.collect().length &&
      g.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        rows.map(r => (r.getLong(0), r.getLong(1))).toSet,
      "re-execution must be bit-stable")
    // iters = 0 is exactly the ranked seed-cohort graph
    val seed = S.nnDescent(vecs, k = 3, iters = 0, seedBuckets = 10)
    assert(seed.collect().nonEmpty)
  }

  test("ivfSelfTopK: hot list over maxList splits but output is identical") {
    // all 12 vectors land in ONE inverted list (single centroid): the guarded
    // run (maxList = 4 → S = 3) must equal the unguarded self-join, directed
    // rows and ranks included
    val vecs = (0L until 12L).map(i =>
      (i, Array((1.0 + i % 3).toFloat, (2.0 + i % 5).toFloat, (i % 7).toFloat)))
      .toDF("vec_id", "embedding")
    def run(maxList: Int) =
      graft.operators.Similarity.ivfSelfTopK(vecs, k = 3, centroidEvery = 100,
        maxList = maxList)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sorted.toSeq
    val guarded = run(4)
    val unguarded = run(10000)
    assert(guarded.size == 36, s"12 vectors x top-3 expected: ${guarded.size}")
    assert(guarded == unguarded, s"guarded $guarded != unguarded $unguarded")
  }

  test("ngram DF cap: hot shingles stop generating candidates, Jaccard intact") {
    // docs 1/2 are near-dups sharing rare shingles; every doc shares the hot
    // prefix "the quick brown fox", whose shingles hit all 6 docs
    val hot = "the quick brown fox"
    val docs = (Seq(
      (1L, s"$hot alpha beta gamma delta"),
      (2L, s"$hot alpha beta gamma epsilon")) ++
      (3L to 6L).map(i => (i, s"$hot unique$i words$i here$i"))).toDF("doc_id", "text")

    val uncapped = Dedup.ngramJaccard(docs, minJaccard = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    // cap at 40% of 6 docs = 2.4: the hot-prefix shingles (df = 6) are out of
    // the index; docs 3-6 share ONLY hot shingles so their pairs vanish, while
    // the 1-2 pair survives via its rare shingles with the SAME Jaccard value
    val capped = Dedup.ngramJaccard(docs, minJaccard = 0.05, maxDocFrac = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val unc12 = uncapped.find(p => p._1 == 1L && p._2 == 2L)
    val cap12 = capped.find(p => p._1 == 1L && p._2 == 2L)
    assert(unc12.isDefined && cap12 == unc12, s"$cap12 != $unc12")
    assert(uncapped.length > capped.length, "hot-only pairs should be dropped")
    assert(capped.forall(p => p._1 == 1L && p._2 == 2L),
      s"only the rare-shingle pair should survive: ${capped.toSeq}")
  }

  test("span family: empty, whitespace-only and sub-w docs pass through intact") {
    val docs = Seq(
      (1L, ""),            // zero tokens
      (2L, "   "),         // whitespace collapses to zero tokens
      (3L, "one two"),     // below w — contributes no grams
      (4L, "a b c a b c")  // the only doc with dup grams at w=3
    ).toDF("doc_id", "text")
    // stats tables only carry docs with >= w tokens…
    val spans = Dedup.duplicateSpans(docs, w = 3)
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(spans == Seq(4L), s"spans rows: $spans")
    // …but excision must emit EVERY doc, normalized, untouched when clean
    val ex = Dedup.exciseDuplicateSpans(docs, w = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(ex(0) == ((1L, 0L, 0L, "")), ex(0))
    assert(ex(1) == ((2L, 0L, 0L, "")), ex(1))
    assert(ex(2) == ((3L, 2L, 0L, "one two")), ex(2))
    assert(ex(3) == ((4L, 6L, 3L, "a b c")), ex(3))
    // unigram LM skips token-free docs, scores the rest (ANSI-safe: no
    // division reaches a zero-token doc because it never joins)
    val lp = TextAnalysis.unigramLogProb(docs)
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(lp == Seq(3L, 4L), s"unigram rows: $lp")
  }

  test("r9-continuation family: empty and degenerate inputs pass through") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // BPE: an empty corpus trains an empty model; encoding with an empty
    // model splits every word to chars
    assert(graft.operators.Bpe.train(empty).count() == 0)
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val chars = graft.operators.Bpe
      .encode(docs, graft.operators.Bpe.train(empty))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(chars == Map("a" -> 2L, "b" -> 2L), s"$chars")
    // subword vocab / OOV / novelty on empty corpora: empty, not a crash
    assert(TextAnalysis.subwordVocab(empty).count() == 0)
    assert(TextAnalysis.oovRate(
      Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")).count() == 0)
    assert(Dedup.corpusNovelty(empty).count() == 0)
    // single-char words contribute nothing at minLen 2
    assert(TextAnalysis.subwordVocab(
      Seq((1L, "a b c")).toDF("doc_id", "text")).count() == 0)
    // anomalies on an empty table: empty, and the stats join is safe
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String, Double, String)]
      .toDF("event_id", "ts", "event_type", "value", "props")
    assert(graft.operators.Behavior.anomalies(noEvents).count() == 0)
  }

  test("quotaPerGroup: salted tournament equals the naive window, any cells") {
    import org.apache.spark.sql.functions.col
    // Zipf-ish group sizes, score ties inside groups (score = id % 7) so the
    // id tie-break matters; group "a" is 10x the others (the hot domain)
    val df = ((1L to 500L).map(i => (i, "a", (i % 7).toDouble)) ++
      (501L to 550L).map(i => (i, "b", (i % 7).toDouble)) ++
      (551L to 553L).map(i => (i, "c", (i % 7).toDouble)))
      .toDF("id", "grp", "score")
    def run(cells: Int) = graft.operators.Sampling
      .quotaPerGroup(df, Seq("grp"), col("score"), col("id"), k = 10, cells = cells)
      .select("grp", "id", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    val naive = run(1) // cells=1 IS the naive single-window ranking
    assert(run(4) == naive, "4-cell tournament must equal the naive window")
    assert(run(32) == naive, "32-cell tournament must equal the naive window")
    // min(k, |group|) rows per group; tiny group 'c' keeps all 3
    val perGroup = naive.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perGroup == Map("a" -> 10, "b" -> 10, "c" -> 3), perGroup)
  }

  test("trimToTokenBudget: greedy by score, boundary doc kept, ties by id") {
    import org.apache.spark.sql.functions.col
    // scores force order 4,1,2,3 (1 beats 2 on the id tie at score 0.5)
    val docs = Seq(
      (1L, 40L, 0.5), (2L, 30L, 0.5), (3L, 50L, 0.1), (4L, 20L, 0.9))
      .toDF("doc_id", "n_tokens", "quality_score")
    def trim(b: Long) = graft.operators.Sampling.trimToTokenBudget(docs, b)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // budget 60: 4 (start 0), 1 (start 20, runs to 59); 2 would start AT
    // 60 — not < 60 — so the trim stops exactly at the boundary
    assert(trim(60L) == Seq((4L, 0L, 0L), (1L, 1L, 20L)))
    // budget 61: doc 2 STARTS inside the budget (60 < 61) — kept and
    // allowed to overflow (target-not-cap semantics)
    assert(trim(61L) == Seq((4L, 0L, 0L), (1L, 1L, 20L), (2L, 2L, 60L)))
    // a budget larger than the corpus keeps everything
    assert(graft.operators.Sampling.trimToTokenBudget(docs, 1000L).count() == 4)
    // empty input
    assert(graft.operators.Sampling.trimToTokenBudget(
      docs.filter(col("doc_id") < 0), 100L).count() == 0)
  }

  test("topKByHash: exact k, partition-invariant, brute-force-equal, TakeOrdered plan") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 300L).map(i => (i, s"d$i")).toDF("id", "payload")
    val a = graft.operators.Sampling.topKByHash(df, col("id"), 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = graft.operators.Sampling.topKByHash(df.repartition(7), col("id"), 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b, "membership must not depend on partitioning")
    assert(a.size == 50)
    // brute-force oracle: same 60-bit md5-hex-prefix hash, computed locally
    def h(i: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"topk:$i".getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString.take(15), 16)
    val brute = (1L to 300L).sortBy(i => (h(i), i)).take(50).sorted.toSeq
    assert(a == brute)
    // k over corpus size degrades to the whole input
    assert(graft.operators.Sampling.topKByHash(df, col("id"), 1000).count() == 300)
    // the plan is per-partition top-k + driver merge, never a global sort
    val plan = graft.operators.Sampling.topKByHash(df, col("id"), 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("splitLeakFree: clusters co-assigned; unpaired docs match plain split") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // two clusters: {3,5,9} (transitive through 5) and {20,21}; rest unpaired
    val pairs = Seq((3L, 5L), (5L, 9L), (20L, 21L)).toDF("id1", "id2")
    val cuts = Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L)
    val got = graft.operators.Sampling.splitLeakFree(docs, pairs, cuts)
      .select("doc_id", "split_key", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.size == 200)
    // every cluster member shares the representative's key AND split
    assert(Seq(3L, 5L, 9L).map(got).distinct.size == 1)
    assert(got(3L)._1 == 3L, "cluster key is the min member id")
    assert(Seq(20L, 21L).map(got).distinct.size == 1)
    assert(got(20L)._1 == 20L)
    // unpaired docs degenerate to exactly Sampling.split on their own id
    val plain = graft.operators.Sampling.split(docs, col("doc_id"), cuts)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 200L).filterNot(Set(3L, 5L, 9L, 20L, 21L)).foreach { i =>
      assert(got(i) == ((i, plain(i))), s"doc $i moved without being paired")
    }
  }

  test("snapshotDiff on empty sides: everything added / everything deleted") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(String, String)].toDF("k", "v")
    val some = Seq(("a", "1"), ("b", "2")).toDF("k", "v")
    val added = graft.operators.Cdc.snapshotDiff(empty, some, Seq("k"), Seq("v"))
      .select("k", "change").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(added == Set(("a", "added"), ("b", "added")))
    val deleted = graft.operators.Cdc.snapshotDiff(some, empty, Seq("k"), Seq("v"))
      .select("k", "change").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(deleted == Set(("a", "deleted"), ("b", "deleted")))
    assert(graft.operators.Cdc.snapshotDiff(empty, empty, Seq("k"), Seq("v"))
      .count() == 0)
  }

  test("imputeMean: whole-group null falls back to the global mean") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", Some(2.0)), ("a", None), ("b", None), ("b", None))
      .toDF("g", "v")
    val got = graft.operators.Profiling.imputeMean(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0),
        r.getDouble(r.fieldIndex("v")),
        r.getBoolean(r.fieldIndex("was_null"))))
    // group a mean = 2.0; group b has no observed values → global mean 2.0
    assert(got.forall(_._2 == 2.0), got.mkString)
    assert(got.count(_._3) == 3, got.mkString)
  }

  test("bloom ledger on empty input; probe over empty ledger") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, Long)].toDF("block", "key")
    val ledger = graft.operators.Layout.bloomLedger(
      empty, col("block"), col("key"))
    assert(ledger.count() == 0)
    val probes = Seq(1L).toDF("key")
    assert(graft.operators.Layout.bloomProbe(ledger, probes, "key")
      .count() == 0)
  }
}
