package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.operators.{Dedup, TextAnalysis}

/** Bit-exactness guard for the compiled gram builders
  * ([[graft.functions.ShingleArray]] / [[graft.functions.SpanGramKeys]])
  * against the interpreted higher-order-function pipelines they replaced,
  * which stay in the tree as `shinglesInterpreted` / `spanGramsInterpreted`.
  * The builders run on both evaluation paths ([[EvalPaths]]).
  * Inputs deliberately cover the quirks the old forms encode: multi-space
  * runs, leading/trailing spaces, unicode uppercase (lowered), repeated
  * grams (distinct order), docs shorter than the gram width, empty and
  * whitespace-only docs (including the n = 1 empty-string shingle quirk).
  */
class ShingleOpsSpec extends SparkSpec with EvalPaths {
  import spark.implicits._

  private val wordGen: Gen[String] = Gen.frequency(
    6 -> Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString)),
    2 -> Gen.oneOf("The", "ÄÖÜ", "İstanbul", "ΣΙΓΜΑ", "a", "b", "c"),
    1 -> Gen.oneOf("!", "?!", "a,b", "\tx"))

  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 14)
    ws <- Gen.listOfN(n, wordGen)
    sep <- Gen.listOfN(math.max(n - 1, 0), Gen.oneOf(" ", "  ", "   "))
    lead <- Gen.oneOf("", " ", "  ")
    trail <- Gen.oneOf("", " ", " ")
  } yield lead + (if (ws.isEmpty) ""
                  else ws.head + sep.zip(ws.tail).map(p => p._1 + p._2).mkString) + trail

  private def check(prop: Prop, minTests: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  test("ShingleArray == interpreted shingles on adversarial docs, any n") {
    check(Prop.forAll(Gen.listOfN(8, docGen), Gen.choose(1, 5)) { (docs, n) =>
      val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      val got = collectBothPaths(
          df.select($"id", TextAnalysis.shingles($"text", n).as("s")).orderBy("id"))
        .map(r => r.getSeq[String](1))
      val want = df.select($"id",
          TextAnalysis.shinglesInterpreted($"text", n).as("s"))
        .orderBy("id").collect().map(r => r.getSeq[String](1))
      got.toSeq == want.toSeq
    })
  }

  test("SpanGramKeys relation == interpreted spanGrams, positions and keys") {
    check(Prop.forAll(Gen.listOfN(8, docGen), Gen.choose(1, 5)) { (docs, w) =>
      val df = docs.zipWithIndex.map(_.swap).toDF("doc_id", "text")
      val got = collectBothPaths(Dedup.spanGrams(df, "text", "doc_id", w)
          .orderBy("doc_id", "pos"))
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
      val want = Dedup.spanGramsInterpreted(df, "text", "doc_id", w)
        .orderBy("doc_id", "pos").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
      got.toSeq == want.toSeq
    }, minTests = 40)
  }

  test("empty-ish docs: the n = 1 empty-shingle quirk is reproduced") {
    val df = Seq((0, ""), (1, " "), (2, "   "), (3, "x")).toDF("id", "text")
    for (n <- 1 to 3) {
      val got = collectBothPaths(
          df.select($"id", TextAnalysis.shingles($"text", n).as("s")).orderBy("id"))
        .map(_.getSeq[String](1))
      val want = df.select($"id",
          TextAnalysis.shinglesInterpreted($"text", n).as("s"))
        .orderBy("id").collect().map(_.getSeq[String](1))
      assert(got.toSeq == want.toSeq, s"n=$n")
    }
    // pin the quirk itself, not just parity: zero tokens at n = 1 → [""]
    val q = df.select(TextAnalysis.shingles($"text", 1))
      .collect().map(_.getSeq[String](0))
    assert(q(0) == Seq("") && q(1) == Seq("") && q(2) == Seq(""))
    assert(q(3) == Seq("x"))
  }

  test("null text stays null through both builders") {
    val df = Seq((0, Option("a b c")), (1, Option.empty[String]))
      .toDF("id", "text")
    val got = collectBothPaths(df.select(TextAnalysis.shingles($"text", 2)))
    assert(!got(0).isNullAt(0) && got(1).isNullAt(0))
  }

  test("SubwordArray vocab == interpreted subword pipeline on adversarial docs") {
    check(Prop.forAll(Gen.listOfN(6, docGen), Gen.choose(2, 3),
        Gen.choose(3, 6)) { (docs, lo0, hi0) =>
      // clamp: the shrinker ignores Gen bounds and the operator requires
      // 2 <= min <= max
      val lo = math.max(lo0, 2)
      val hi = math.max(hi0, lo)
      val df = docs.zipWithIndex.map(_.swap).toDF("id", "text")
      // k beyond any possible vocab so the cut never hides a divergence
      val got = collectBothPaths(TextAnalysis.subwordVocab(df, minLen = lo,
          maxLen = hi, k = 1000000)).map(r => (r.getString(0), r.getLong(1))).toSet
      val want = TextAnalysis.subwordVocabInterpreted(df, minLen = lo,
          maxLen = hi, k = 1000000).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      got == want
    }, minTests = 40)
  }

  test("compiled shingles survive codegen inside a real aggregation plan") {
    // end-to-end through explode + groupBy (the shingleRows shape), so the
    // expression runs in generated code, not just interpreted eval
    val df = Seq((1, "a b a b a"), (2, "a b a b a"), (3, "x y z"))
      .toDF("doc_id", "text")
    val rows = Dedup.shingleRows(df, "text", "doc_id", 2)
      .groupBy("sh").agg(countDistinct($"id").as("df"))
      .orderBy("sh").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a b", 2L), ("b a", 2L), ("x y", 1L), ("y z", 1L)))
  }

  test("every gram builder is evaluated inside a whole-stage codegen stage") {
    import graft.functions.{ShingleArray, SpanGramKeys, SubwordArray}
    val df = Seq((1, "a b a b a")).toDF("id", "text")
    assert(compiledInStage(df.select(ShingleArray($"text", 2).as("g")))(
      _.isInstanceOf[ShingleArray]))
    assert(compiledInStage(df.select(SpanGramKeys($"text", 2).as("g")))(
      _.isInstanceOf[SpanGramKeys]))
    assert(compiledInStage(df.select(SubwordArray($"text", 2, 3).as("g")))(
      _.isInstanceOf[SubwordArray]))
  }
}
