package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{DotFold, EwmaFold, FingerprintFold, L2Fold, MaxAbsFold, MinHashFold, SimHashFold}

/** Bit-exactness guard for the codegen fold expressions: [[DotFold]] and
  * [[EwmaFold]] replaced interpreted `aggregate(zip_with(...))` folds whose
  * exact bits the cross-engine oracles depend on. These properties pin the
  * compiled loops to independent Scala references (same op order) on random
  * inputs INCLUDING the edge cases the gates' data never exercises — empty
  * arrays, null elements, length mismatches.
  */
class FoldExprSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  private val arrGen: Gen[List[Option[Double]]] = for {
    n <- Gen.choose(0, 12)
    vs <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(-100.0, 100.0).map(Some(_)),
      1 -> Gen.const(Some(0.0)),
      1 -> Gen.const(Option.empty[Double])))
  } yield vs

  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  test("DotFold == ascending multiply-accumulate reference, bit for bit") {
    check(Prop.forAll(arrGen, arrGen) { (a, b) =>
      val expected: Option[Double] =
        if (a.size != b.size || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
        else Some(a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.get * y.get })
      val row = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(DotFold(col("a"), col("b")).as("d")).head()
      val got = if (row.isNullAt(0)) None else Some(row.getDouble(0))
      bits(got.orNull) == bits(expected.orNull)
    }, minTests = 40)
  }

  test("L2Fold == ascending subtract-square-accumulate reference, bit for bit") {
    check(Prop.forAll(arrGen, arrGen) { (a, b) =>
      val expected: Option[Double] =
        if (a.size != b.size || a.exists(_.isEmpty) || b.exists(_.isEmpty)) None
        else Some(a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
          val d = x.get - y.get; s + d * d
        })
      val row = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(L2Fold(col("a"), col("b")).as("d")).head()
      val got = if (row.isNullAt(0)) None else Some(row.getDouble(0))
      bits(got.orNull) == bits(expected.orNull)
    }, minTests = 40)
  }

  test("L2Fold matches the interpreted aggregate(zip_with(...)) it replaced") {
    // the exact former assignExpr formulation, evaluated as a Spark HOF
    val xs = Array(1.5, -2.25, 3.125, 0.0, 97.75, -0.001)
    val df = Seq((xs, xs.map(x => x * 0.5 - 1.0))).toDF("a", "b")
    val legacy = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, x) => s + x).as("l2")).head()
    val fused = df.select(L2Fold(col("a"), col("b")).as("l2")).head()
    assert(bits(legacy.getDouble(0)) == bits(fused.getDouble(0)))
  }

  test("SimHashFold == the interpreted nested aggregate it replaced") {
    val hsGen: Gen[List[Long]] = for {
      n <- Gen.choose(0, 20)
      vs <- Gen.listOfN(n, Gen.choose(0L, (1L << 60) - 1))
    } yield vs
    check(Prop.forAll(hsGen, Gen.choose(1, 63)) { (hs, bits) =>
      // the exact former Dedup.simHash formulation as Spark HOFs
      val df = Seq(Tuple1(hs.toArray)).toDF("hs")
      val legacy = df.select(
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, b) =>
          acc + when(
            lit(2L) * aggregate(col("hs"), lit(0L), (a, h) =>
              a + call_function("shiftright", h, b.cast("int")).bitwiseAND(1L))
              > size(col("hs")).cast("long"),
            call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(0L))
          .as("p")).head().getLong(0)
      val fused = df.select(SimHashFold(col("hs"), bits).as("p"))
        .head().getLong(0)
      legacy == fused
    }, minTests = 30)
    // null element → 0, matching the old when(null > _) fall-through
    val withNull = Seq(Tuple1(Array[java.lang.Long](3L, null, 7L)))
      .toDF("hs").select(SimHashFold(col("hs").cast("array<long>"), 60)).head()
    assert(withNull.getLong(0) == 0L)
  }

  test("MinHashFold == the interpreted transform(array_min(transform)) it replaced") {
    val hsGen: Gen[List[Long]] = for {
      n <- Gen.choose(1, 25)
      vs <- Gen.listOfN(n, Gen.choose(0L, 2147483646L))
    } yield vs
    check(Prop.forAll(hsGen, Gen.oneOf(8, 16, 32)) { (hs, numHashes) =>
      val df = Seq(Tuple1(hs.toArray)).toDF("hs")
      // the exact former Dedup.minHashSignatures formulation
      val legacy = df.select(
        transform(sequence(lit(0), lit(numHashes - 1)), i =>
          array_min(transform(col("hs"), h =>
            pmod((i.cast("long") * 2L + 1L) * h + lit(7919L) * (i.cast("long") + 1L),
              lit(2147483647L))))).as("sig"))
        .head().getSeq[Long](0)
      val fused = df.select(MinHashFold(col("hs"), numHashes).as("sig"))
        .head().getSeq[Long](0)
      legacy == fused
    }, minTests = 30)
  }

  test("FingerprintFold == the interpreted per-character fold it replaced") {
    val asciiGen: Gen[String] = for {
      n <- Gen.choose(0, 80)
      cs <- Gen.listOfN(n, Gen.oneOf(
        ('a' to 'z') ++ ('0' to '9') :+ ' '))
    } yield cs.mkString
    check(Prop.forAll(asciiGen) { s =>
      val df = Seq(Tuple1(s)).toDF("norm")
      // the exact former TextAnalysis.fingerprint formulation
      val legacy = df.select(
        aggregate(split(col("norm"), ""), lit(0L),
          (acc, c) => pmod(acc * 31L + ascii(c), lit(2147483647L))).as("fp"))
        .head().getLong(0)
      val fused = df.select(FingerprintFold(col("norm")).as("fp"))
        .head().getLong(0)
      legacy == fused
    }, minTests = 40)
  }

  test("MaxAbsFold == the interpreted greatest/abs fold it replaced, bit for bit") {
    check(Prop.forAll(arrGen) { xs =>
      val df = Seq(Tuple1(xs.toArray)).toDF("v")
      val legacy = df.select(
        aggregate(col("v"), lit(0.0), (m, x) => greatest(m, abs(x))).as("m"))
        .head().getDouble(0)
      val fused = df.select(MaxAbsFold(col("v")).as("m")).head().getDouble(0)
      bits(legacy) == bits(fused)
    }, minTests = 40)
  }

  test("EwmaFold == Math.pow weighted reference, bit for bit") {
    val alphaGen = Gen.oneOf(0.8, 11.0 / 13, 25.0 / 27, 8.0 / 10, 13.0 / 14)
    check(Prop.forAll(arrGen, alphaGen) { (xs, alpha) =>
      val expected: Option[Double] =
        if (xs.isEmpty || xs.exists(_.isEmpty)) None
        else {
          val l = xs.size
          var num = 0.0
          for (k <- 0 until l) num += xs(k).get * math.pow(alpha, (l - 1 - k).toDouble)
          Some(num / ((1.0 - math.pow(alpha, l.toDouble)) / (1.0 - alpha)))
        }
      val row = Seq(Tuple1(xs.toArray)).toDF("xs")
        .select(EwmaFold(col("xs"), lit(alpha)).as("e")).head()
      val got = if (row.isNullAt(0)) None else Some(row.getDouble(0))
      bits(got.orNull) == bits(expected.orNull)
    }, minTests = 40)
  }

  test("EwmaWindowAgg over a frame == EwmaFold(collect_list) over the same frame, bit for bit") {
    // the r16 window aggregate replaced the windowed collect_list →
    // EwmaFold pipeline in the whole indicator family; the DuckDB oracles
    // pin those exact bits, so the aggregate must reproduce them — frame
    // order, null skip, all-null frames, varying frame sizes
    val alphaGen = Gen.oneOf(0.8, 11.0 / 13, 25.0 / 27, 13.0 / 14)
    val seriesGen: Gen[List[Option[Double]]] = for {
      n <- Gen.choose(1, 40)
      vs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(-100.0, 100.0).map(Some(_)),
        1 -> Gen.const(Some(0.0)),
        1 -> Gen.const(Option.empty[Double])))
    } yield vs
    check(Prop.forAll(seriesGen, alphaGen, Gen.choose(1, 12)) {
      (vs, alpha, frame) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy("i")
          .rowsBetween(-(frame - 1L), 0L)
        val df = vs.zipWithIndex
          .map { case (v, i) => ("k", i, v) }.toDF("k", "i", "v")
        val rows = df.select(col("i"),
            graft.functions.EwmaWindowAgg(col("v"), alpha).over(w).as("agg"),
            EwmaFold(collect_list(col("v")).over(w), lit(alpha)).as("ref"))
          .collect()
        rows.forall { r =>
          bits(if (r.isNullAt(1)) null else r.getDouble(1)) ==
            bits(if (r.isNullAt(2)) null else r.getDouble(2))
        }
    }, minTests = 30)
  }

  test("EwmaWindowAgg is window-only: grouped aggregation fails naming the contract") {
    // a grouped aggregate merges partial buffers in partition order, which
    // would make the order-sensitive fold vary with partitioning
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("k", "v")
    val e = intercept[Exception] {
      df.groupBy("k").agg(graft.functions.EwmaWindowAgg(col("v"), 0.8))
        .collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(messages.contains("ewma_agg is a window-only aggregate"), messages)
  }

  test("folds match the interpreted aggregate(zip_with(...)) they replaced") {
    // the exact former formulations, evaluated as Spark HOFs on a fixture
    // with no nulls (zip_with's null-pad semantics covered above)
    val xs = Array(1.5, -2.25, 3.125, 0.0, 97.75, -0.001)
    val df = Seq((xs, xs.map(_ * 0.5))).toDF("a", "b")
    val legacy = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (s, x) => s + x).as("dot"),
      aggregate(
        zip_with(col("a"), sequence(lit(1), size(col("a"))),
          (x, i) => x * pow(lit(0.8), (size(col("a")) - i).cast("double"))),
        lit(0.0), (s, x) => s + x).as("num")).head()
    val fused = df.select(
      DotFold(col("a"), col("b")).as("dot"),
      (EwmaFold(col("a"), lit(0.8))
        * ((lit(1.0) - pow(lit(0.8), size(col("a")).cast("double"))) / 0.2))
        .as("num")).head()
    assert(bits(legacy.getDouble(0)) == bits(fused.getDouble(0)))
    assert(math.abs(legacy.getDouble(1) - fused.getDouble(1)) < 1e-9,
      s"${legacy.getDouble(1)} vs ${fused.getDouble(1)}")
  }

  test("topPartnersPacked == the sort-based topPartners rank (random pairs)") {
    import graft.operators.Correlations
    val prop = Prop.forAll(
      Gen.choose(2, 12), Gen.choose(1, 4), Gen.long.map(math.abs)) {
      (nKeys: Int, k: Int, seed0: Long) =>
        val rng = new scala.util.Random(seed0)
        // random pair relation over "U<id>" keys with 6dp values in [-1,1];
        // duplicate (window, pair) rows excluded (a pair appears once)
        val pairs0 = (for {
          a <- 0 until nKeys; b <- (a + 1) until nKeys
          if rng.nextDouble() < 0.7
          w <- Seq("2024-01-01 00:00:00", "2024-01-01 03:00:00")
          if rng.nextDouble() < 0.8
        } yield (java.sql.Timestamp.valueOf(w), s"U$a", s"U$b",
          // + 0.0 kills math.rint's -0.0 (packed decode normalizes the
          // zero sign; the raw-bits canon would flag a spurious mismatch)
          math.rint(rng.nextDouble() * 2e6 - 1e6) / 1e6 + 0.0,
          rng.nextInt(50) + 2L)).toList
        Prop.propBoolean(pairs0.nonEmpty) ==> {
          val pairs = pairs0
            .toDF("windowStart", "key1", "key2", "r", "n")
          def canon(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(r => (r.getTimestamp(0), r.getString(1),
              r.getString(2), bits(r.getDouble(3)), r.getLong(4), r.getLong(5)))
              .sortBy(_.toString).toList
          // numeric-id tiebreak on BOTH sides (topPartners ranks on string
          // order — make the reference rank on the same numeric order by
          // zero-padding the ids so string and numeric order coincide)
          val pad = pairs
            .withColumn("key1", format_string("U%03d",
              expr("cast(substring(key1, 2) as int)")))
            .withColumn("key2", format_string("U%03d",
              expr("cast(substring(key2, 2) as int)")))
          val viaSort = canon(Correlations.topPartners(pad, k)
            .withColumn("key", expr("concat('U', cast(substring(key, 2) as int))"))
            .withColumn("partner",
              expr("concat('U', cast(substring(partner, 2) as int))"))
            .select("wstart", "key", "partner", "r", "n", "rnk"))
          val viaPacked = canon(Correlations.topPartnersPacked(pairs, k,
            expr("cast(substring(key1, 2) as bigint)"),
            expr("cast(substring(key2, 2) as bigint)"),
            id => concat(lit("U"), id.cast("string"))))
          viaSort == viaPacked
        }
    }
    check(prop, 30)
  }

  test("topPartnersPackedDict == sort-based topPartners on raw STRING keys") {
    import graft.operators.{Correlations, Ranking}
    // dictionary ids are the keys' sort ranks, so the packed numeric
    // tiebreak must decode to EXACTLY topPartners' partner-string-ascending
    // rank — no zero-padding trick needed: this is the contract the dict
    // form exists to provide ("U10" ranks before "U2")
    val prop = Prop.forAll(
      Gen.choose(2, 12), Gen.choose(1, 4), Gen.long.map(math.abs)) {
      (nKeys: Int, k: Int, seed0: Long) =>
        val rng = new scala.util.Random(seed0)
        val pairs0 = (for {
          a <- 0 until nKeys; b <- (a + 1) until nKeys
          if rng.nextDouble() < 0.7
          w <- Seq("2024-01-01 00:00:00", "2024-01-01 03:00:00")
          if rng.nextDouble() < 0.8
        } yield (java.sql.Timestamp.valueOf(w), s"U$a", s"U$b",
          math.rint(rng.nextDouble() * 2e6 - 1e6) / 1e6 + 0.0,
          rng.nextInt(50) + 2L)).toList
        Prop.propBoolean(pairs0.nonEmpty) ==> {
          val pairs = pairs0
            .toDF("windowStart", "key1", "key2", "r", "n")
          def canon(df: org.apache.spark.sql.DataFrame) =
            df.collect().map(r => (r.getTimestamp(0), r.getString(1),
              r.getString(2), bits(r.getDouble(3)), r.getLong(4), r.getLong(5)))
              .sortBy(_.toString).toList
          val keys = pairs.select(col("key1").as("key"))
            .unionByName(pairs.select(col("key2").as("key")))
          val dict = Ranking.dictionaryIds(keys, "key")
          val viaSort = canon(Correlations.topPartners(pairs, k)
            .select("wstart", "key", "partner", "r", "n", "rnk"))
          val viaDict = canon(Correlations.topPartnersPackedDict(pairs, k, dict))
          viaSort == viaDict
        }
    }
    check(prop, 30)
  }

  test("topPartnersPackedDict fails loudly on a key absent from the dictionary") {
    import graft.operators.{Correlations, Ranking}
    val pairs = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "U0", "U1", 0.5, 10L),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "U0", "U9", 0.4, 10L))
      .toDF("windowStart", "key1", "key2", "r", "n")
    // dictionary covers U0/U1 but not U9 — the encode step must raise
    // (naming the key), never silently drop the pair
    val dict = Ranking.dictionaryIds(
      Seq("U0", "U1").toDF("key"), "key")
    val e = intercept[Exception] {
      Correlations.topPartnersPackedDict(pairs, 3, dict).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("absent from dictionary")
      && m.contains("U9")), s"wrong failure: $e")
  }

  test("dictionaryIds: dense 0-based ids in key sort order, any partition count") {
    import graft.operators.Ranking
    val df = Seq("U10", "U2", "U2", "alpha", "U10", "z", "alpha")
      .toDF("k")
    for (parts <- Seq(1, 3, 8)) {
      val got = Ranking.dictionaryIds(df, "k", parts).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
      assert(got == Seq(("U10", 0L), ("U2", 1L), ("alpha", 2L), ("z", 3L)),
        s"parts=$parts: $got")
    }
  }

  test("PqCodes/PqTables == composed slice+L2Fold reference, bit for bit") {
    import graft.functions.{PqCodes, PqTables}
    val caseGen = for {
      m <- Gen.choose(1, 3)
      sub <- Gen.choose(1, 3)
      k <- Gen.choose(1, 4)
      books <- Gen.listOfN(m, Gen.listOfN(k,
        Gen.listOfN(sub, Gen.choose(-10.0, 10.0))))
      extra <- Gen.choose(0, 2) // longer-than-m*sub inputs: tail ignored
      v <- Gen.listOfN(m * sub + extra, Gen.choose(-10.0, 10.0))
    } yield (m, sub, books.map(_.map(_.toSeq).toSeq).toSeq, v)
    check(Prop.forAll(caseGen) { case (m, sub, books, v) =>
      // reference: the exact composed-form arithmetic PqOps replaced —
      // ascending subtract-square-accumulate per codeword, first-min argmin
      def sq(slice: Seq[Double], cw: Seq[Double]): Double =
        slice.zip(cw).foldLeft(0.0) { case (s, (x, y)) =>
          val d = x - y; s + d * d
        }
      val slices = (0 until m).map(i => v.slice(i * sub, (i + 1) * sub))
      val expTables = (0 until m).map(i => books(i).map(sq(slices(i), _)))
      val expCodes = expTables.map(t => t.indexOf(t.min))
      val row = Seq(Tuple1(v.toArray)).toDF("v")
        .select(PqCodes(col("v"), books).as("c"),
          PqTables(col("v"), books).as("t")).head()
      val gotCodes = row.getSeq[Int](0)
      val gotTables = row.getSeq[Seq[Double]](1)
      gotCodes == expCodes &&
        gotTables.flatten.map(bits) == expTables.flatten.map(bits)
    }, minTests = 40)
  }

  test("PqCodes: duplicate codewords tie-break to the smallest index") {
    import graft.functions.PqCodes
    val books = Seq(Seq(Seq(5.0, 5.0), Seq(1.0, 2.0), Seq(1.0, 2.0)))
    val row = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .select(PqCodes(col("v"), books).as("c")).head()
    assert(row.getSeq[Int](0) == Seq(1))
  }

  test("PqCodes/PqTables null contract: null element or short input → null") {
    import graft.functions.{PqCodes, PqTables}
    val books = Seq(Seq(Seq(0.0, 0.0)), Seq(Seq(0.0, 0.0)))
    for (v <- Seq(Array[java.lang.Double](1.0, null, 3.0, 4.0), // null elem
        Array[java.lang.Double](1.0, 2.0, 3.0),                 // too short
        null)) {                                                // null input
      val row = Seq(Tuple1(v)).toDF("v")
        .select(PqCodes(col("v"), books).as("c"),
          PqTables(col("v"), books).as("t")).head()
      assert(row.isNullAt(0) && row.isNullAt(1), s"input ${Option(v).map(_.toSeq)}")
    }
  }

  test("PqCodes NaN contract: first-candidate NaN sticks (documented divergence)") {
    import graft.functions.{PqCodes, PqTables}
    // Java's `s < best` never accepts a NaN comparison, so:
    //  - a NaN distance at codeword 0 STAYS (every later compare is false),
    //    where the composed array_min form (NaN > any double) would pick
    //    the smallest finite distance;
    //  - a NaN codeword later than a finite one never wins.
    // Both pinned here so the PqBookExpression scaladoc's contract is
    // checked code, not prose. Inputs like these are unreachable from the
    // encode pipeline (finite embeddings, centroid means), which is why
    // the bit-identity property above generates finite values only.
    val nanFirst = Seq(Seq(Seq(Double.NaN, 0.0), Seq(1.0, 2.0)))
    val r1 = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .select(PqCodes(col("v"), nanFirst).as("c")).head()
    assert(r1.getSeq[Int](0) == Seq(0), "NaN at codeword 0 must stick")
    val nanLater = Seq(Seq(Seq(1.0, 2.0), Seq(Double.NaN, 0.0)))
    val r2 = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .select(PqCodes(col("v"), nanLater).as("c")).head()
    assert(r2.getSeq[Int](0) == Seq(0), "later NaN codeword must never win")
    // a NaN EMBEDDING poisons every distance in its subspace → code 0,
    // and the ADC tables carry the NaNs through unchanged
    val books = Seq(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    val r3 = Seq(Tuple1(Array(Double.NaN, 2.0))).toDF("v")
      .select(PqCodes(col("v"), books).as("c"),
        PqTables(col("v"), books).as("t")).head()
    assert(r3.getSeq[Int](0) == Seq(0))
    assert(r3.getSeq[Seq[Double]](1).flatten.forall(_.isNaN))
  }

  test("topPartnersPacked: id outside [0, 2^40) fails loudly") {
    import graft.operators.Correlations
    val pairs = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        "U1", "U2", 0.9, 5L))
      .toDF("windowStart", "key1", "key2", "r", "n")
    for (bad <- Seq(lit(-1L), lit(1L << 40))) {
      val e = intercept[Exception] {
        Correlations.topPartnersPacked(pairs, 2,
          bad, lit(2L), id => concat(lit("U"), id.cast("string"))).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("id out of [0, 2^40)")), e.toString)
    }
  }
}
