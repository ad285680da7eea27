package graft

import org.apache.spark.sql.functions._

import graft.fixtures.SampleData
import graft.operators.{Candles, Correlations}

/** Correlation goldens — the reference has zero correlation tests
  * (SURVEY.md §5); these pin the semantics on the deterministic fixture.
  */
class CorrelationsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val candles =
    Candles.aggregate(SampleData.dataset(spark).toDF(), "120 seconds", Some(SampleData.Keys))

  private def corrMap(minCorr: Double, propagateNaN: Boolean = false) =
    Correlations.fromCandles(candles, "600 seconds", "300 seconds", minCorr, propagateNaN)
      .select(unix_millis($"windowStart"), $"key1", $"key2", $"corr", $"n", $"isNaN")
      .as[(Long, String, String, Double, Long, Boolean)]
      .collect()
      .map { case (w, k1, k2, c, n, nan) => ((w, k1, k2), (c, n, nan)) }
      .toMap

  test("identical series TS-1 ~ TS-2 correlate at +1.0 in every window") {
    val m = corrMap(0.5)
    val pairs12 = m.filter { case ((_, k1, k2), _) => k1 == "TS-1" && k2 == "TS-2" }
    assert(pairs12.nonEmpty)
    pairs12.values.foreach { case (c, _, nan) =>
      assert(math.abs(c - 1.0) < 1e-12)
      assert(!nan)
    }
  }

  test("opposing series TS-1 ~ TS-3 correlate near -1.0 where both move") {
    val m = corrMap(0.0)
    // window starting at min0 (base): TS-1 returns up, TS-3 returns down
    val w0 = SampleData.BaseMillis
    m.get((w0, "TS-1", "TS-3")).foreach { case (c, _, _) => assert(c <= -0.5) }
    assert(m.exists { case ((_, k1, k2), (c, _, _)) =>
      k1 == "TS-1" && k2 == "TS-3" && c < -0.9 })
  }

  test("threshold filter drops |corr| < minCorr") {
    val all = corrMap(0.0)
    val kept = corrMap(0.9)
    assert(kept.size < all.size)
    kept.values.foreach { case (c, _, _) => assert(math.abs(c) >= 0.9) }
  }

  test("NaN policy: dropped by default, value:=1.0 with isNaN when propagated") {
    // A constant series has zero-variance log-returns -> Pearson NaN.
    val ts = (0 until 10).map(i => (
      "C-1", new java.sql.Timestamp(SampleData.BaseMillis + i * 60000L),
      Some(5.0), Some(5.0), true))
    val flat = (0 until 10).map(i => (
      "C-2", new java.sql.Timestamp(SampleData.BaseMillis + i * 60000L),
      Some(1.0 + i), Some(1.0 + i), true))
    val df = (ts ++ flat).toDF("key", "ts", "bidPrice", "askPrice", "isLive")
    val cs = Candles.aggregate(df, "120 seconds", None)

    val dropped = Correlations.fromCandles(cs, minCorr = 0.0, propagateNaN = false)
    assert(dropped.count() === 0) // every pair involves the constant series

    val kept = Correlations.fromCandles(cs, minCorr = 0.0, propagateNaN = true)
      .select($"corr", $"isNaN").as[(Double, Boolean)].collect()
    assert(kept.nonEmpty)
    kept.foreach { case (c, nan) => assert(nan && c === 1.0) }
  }

  test("pair count per window is triangular: (k*(k-1))/2 over 5 keys") {
    val rows = Correlations.fromCandles(candles, minCorr = 0.0, propagateNaN = true)
      .groupBy($"windowStart").count()
      .select($"count").as[Long].collect()
    rows.foreach(c => assert(c === 10L)) // 5 choose 2
  }

  test("xCount/yCount are pre-alignment counts >= n; pair label is canonical") {
    // reference `Correlation.xCount/yCount/key` (`src/TimeSeriesProtos.proto:
    // 94-104`, populated at `ComputeCorrelationsDoFn.java:183-199`)
    val rows = Correlations.fromCandles(candles, minCorr = 0.0, propagateNaN = true)
      .select($"key1", $"key2", $"pair", $"n", $"xCount", $"yCount")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k1, k2, pair) = (r.getString(0), r.getString(1), r.getString(2))
      val (n, xc, yc) = (r.getLong(3), r.getInt(4), r.getInt(5))
      assert(k1 < k2, s"pair not canonicalized: $r")
      assert(pair === s"$k1 :: $k2", s"pair label mismatch: $r")
      assert(xc >= n && yc >= n, s"pre-alignment counts below aligned n: $r")
    }
  }

  test("key-block fan-out is invariant: B=1 == default == B=13") {
    val pk = Correlations.packets(Correlations.logReturns(candles),
      "600 seconds", "300 seconds")
    def pairs(corr: org.apache.spark.sql.DataFrame) =
      corr.select($"windowStart", $"key1", $"key2", $"corr", $"n")
        .collect().map(_.toString).sorted.toSeq
    val base = pairs(Correlations.correlatePackets(pk, minCorr = 0.0,
      propagateNaN = true, includeUnderlying = false, keyBlocks = 1))
    assert(pairs(Correlations.fromCandles(candles, minCorr = 0.0,
      propagateNaN = true)) === base, "default key blocks changed results")
    val alt = pairs(Correlations.correlatePackets(pk, minCorr = 0.0,
      propagateNaN = true, includeUnderlying = false, keyBlocks = 13))
    assert(alt === base, "keyBlocks=13 changed results")
  }

  test("includeUnderlying carries both series' points (xTss/xRets/yTss/yRets)") {
    // reference `Correlation.xValues/yValues` (`src/TimeSeriesProtos.proto:
    // 94-104`), opt-in via config (`ComputeCorrelationsDoFn.java:197-200`);
    // carried as the parallel tss/rets primitive arrays the pair join
    // already shuffles for the Pearson kernel (guide §2.3)
    val rows = Correlations.fromCandles(candles, minCorr = 0.0,
        propagateNaN = true, includeUnderlying = true)
      .select($"key1", $"key2", $"n",
        size($"xTss").as("nx"), size($"yTss").as("ny"),
        (size($"xTss") === size($"xRets") &&
          size($"yTss") === size($"yRets")).as("parallel"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nx, ny) = (r.getLong(2), r.getInt(3), r.getInt(4))
      assert(nx >= n && ny >= n, s"underlying arrays smaller than aligned count: $r")
      assert(r.getBoolean(5), s"tss/rets not parallel: $r")
    }
    // default output omits the arrays entirely
    val cols = Correlations.fromCandles(candles, minCorr = 0.0).columns
    assert(!cols.exists(Set("xTss", "xRets", "yTss", "yRets")))
  }

  test("batch manual slide expansion equals window(ts, size, slide) exactly") {
    // the batch path expands sliding windows arithmetically (explode)
    // instead of through the TimeWindow Expand node, whose canonicalization
    // defeats the cache lookup on a self-join's deduplicated side — the
    // expansion must reproduce Spark's own window() values EXACTLY
    val rets = Correlations.logReturns(candles).filter($"ret".isNotNull)
    for ((size, slide) <- Seq(("600 seconds", "300 seconds"),
        ("600 seconds", "250 seconds"), ("360 seconds", "120 seconds"))) {
      val viaWindow = rets
        .select(window($"ts", size, slide).as("w"), $"key", $"ts", $"ret")
        .select($"w.start", $"w.end", $"key", $"ts", $"ret")
      val viaManual = Correlations.slidingWindowed(rets, size, slide)
        .select($"w.start", $"w.end", $"key", $"ts", $"ret")
      assert(viaWindow.exceptAll(viaManual).count() === 0L,
        s"window() rows missing from manual expansion at $size/$slide")
      assert(viaManual.exceptAll(viaWindow).count() === 0L,
        s"manual expansion produced extra rows at $size/$slide")
      assert(viaManual.schema.map(f => (f.name, f.dataType)) ===
        viaWindow.schema.map(f => (f.name, f.dataType)),
        s"schema drift between manual expansion and window() at $size/$slide")
    }
  }

  private def retsDf(rows: (String, Long, Double)*) =
    rows.map { case (k, h, r) =>
      (k, new java.sql.Timestamp(h * 3600_000L), r)
    }.toDF("key", "ts", "ret")

  test("laggedCorrelate: a shifted copy correlates at exactly +1, directed") {
    // B's return at t+1h IS A's at t — the (A leads B) direction must read
    // +1.0; the reverse direction is A's lag-2 autocorrelation, not 1
    val vs = Seq(0.3, -0.1, 0.4, 0.1, -0.3, 0.2, -0.2, 0.5, -0.4, 0.1, 0.25)
    val rows = vs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) } ++
      vs.zipWithIndex.map { case (v, i) => ("B", i.toLong + 1L, v) }
    val out = Correlations.laggedCorrelate(retsDf(rows: _*), "1 hour",
        minPoints = 8).collect()
      .map(r => ((r.getAs[String]("lead_key"), r.getAs[String]("lag_key")),
        (r.getAs[Double]("lag_corr"), r.getAs[Long]("n")))).toMap
    assert(out(("A", "B")) == (1.0, 11L))
    assert(out.get(("B", "A")).forall(_._1 < 1.0))
  }

  test("autoCorrelate: an alternating series reads acf -1; constants drop") {
    val alt = (0 until 12).map(i =>
      ("A", i.toLong, if (i % 2 == 0) 0.01 else -0.01))
    val flat = (0 until 12).map(i => ("F", i.toLong, 0.005))
    val out = Correlations.autoCorrelate(retsDf((alt ++ flat): _*), "1 hour",
      minPoints = 8).collect()
    assert(out.length == 1, "the zero-variance key must be pruned, not NaN")
    assert(out.head.getAs[String]("key") == "A")
    assert(out.head.getAs[Double]("acf") == -1.0)
    assert(out.head.getAs[Long]("n") == 11L)
  }

  test("betaToReference: a 2x+c series has beta 2, alpha c, r2 1") {
    val vs = Seq(0.01, -0.02, 0.015, 0.005, -0.01, 0.02, -0.005, 0.012,
      -0.018, 0.007)
    val rows = vs.zipWithIndex.map { case (v, i) => ("A", i.toLong, v) } ++
      vs.zipWithIndex.map { case (v, i) => ("B", i.toLong, 2 * v + 0.001) }
    val out = Correlations.betaToReference(retsDf(rows: _*), minPoints = 8)
      .collect()
    assert(out.length == 1, "the reference key must not regress on itself")
    val r = out.head
    assert(r.getAs[String]("key") == "B" && r.getAs[String]("ref_key") == "A")
    assert(r.getAs[Double]("beta") == 2.0)
    assert(math.abs(r.getAs[Double]("alpha") - 0.001) < 1e-9)
    assert(r.getAs[Double]("r2") == 1.0)
    assert(r.getAs[Long]("n") == 10L)
  }
}
