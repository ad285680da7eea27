package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.PearsonAligned

/** Randomized cross-check of the Pearson kernel against an independent
  * in-JVM reference implementation (map-based alignment + two-pass
  * Pearson), over series with duplicate-free sorted timestamps, partial
  * overlap, constant segments, and degenerate sizes — on both evaluation
  * paths (generated code and interpreted eval, [[EvalPaths]]).
  */
class PearsonAlignedSpec extends SparkSpec with EvalPaths {
  import spark.implicits._

  private def check(prop: Prop, minTests: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minTests), prop)
    assert(res.passed, res.status.toString)
  }

  /** Reference implementation: align on exact timestamps via a map, then
    * commons-math-style two-pass Pearson; NaN when n < 2 or a variance is 0.
    */
  private def refPearson(
      a: Seq[(Long, Double)], b: Seq[(Long, Double)]): (Double, Long) = {
    val bm = b.toMap
    val aligned = a.collect { case (t, x) if bm.contains(t) => (x, bm(t)) }
    val n = aligned.length
    if (n < 2) return (Double.NaN, n.toLong)
    val (xs, ys) = aligned.unzip
    val mx = xs.sum / n
    val my = ys.sum / n
    var sxx = 0.0; var syy = 0.0; var sxy = 0.0
    aligned.foreach { case (x, y) =>
      sxx += (x - mx) * (x - mx); syy += (y - my) * (y - my)
      sxy += (x - mx) * (y - my)
    }
    if (sxx == 0.0 || syy == 0.0) (Double.NaN, n.toLong)
    else (math.max(-1.0, math.min(1.0, sxy / math.sqrt(sxx * syy))), n.toLong)
  }

  private val seriesGen: Gen[Seq[(Long, Double)]] = for {
    n <- Gen.choose(0, 12)
    // timestamps from a small pool so overlap between two series is common
    ts <- Gen.pick(n, (0L until 20L).map(_ * 60000L))
    vs <- Gen.listOfN(n, Gen.oneOf(
      Gen.choose(-5.0, 5.0), Gen.const(1.5))) // constant runs are common too
  } yield ts.sorted.zip(vs).toSeq

  test("codegen kernel == independent reference on randomized series") {
    check(Prop.forAll(seriesGen, seriesGen) { (a, b) =>
      val df = Seq((a.map(_._1), a.map(_._2), b.map(_._1), b.map(_._2)))
        .toDF("tsA", "retA", "tsB", "retB")
      val row = collectBothPaths(df.select(
        PearsonAligned(col("tsA"), col("retA"), col("tsB"), col("retB")).as("p"))
        .selectExpr("p.r", "p.n"))(0)
      val (er, en) = refPearson(a, b)
      val got = row.getDouble(0)
      en == row.getLong(1) &&
        ((er.isNaN && got.isNaN) || math.abs(got - er) < 1e-9)
    }, minTests = 60)
  }

  test("kernel is symmetric: swapping operands is bit-exact") {
    check(Prop.forAll(seriesGen, seriesGen) { (a, b) =>
      val df = Seq((a.map(_._1), a.map(_._2), b.map(_._1), b.map(_._2)))
        .toDF("tsA", "retA", "tsB", "retB")
      val fwd = collectBothPaths(df.select(
        PearsonAligned(col("tsA"), col("retA"), col("tsB"), col("retB")).as("p"))
        .selectExpr("p.r"))(0).getDouble(0)
      val rev = collectBothPaths(df.select(
        PearsonAligned(col("tsB"), col("retB"), col("tsA"), col("retA")).as("p"))
        .selectExpr("p.r"))(0).getDouble(0)
      // bit-exact symmetry justifies the block-driven a/b orientation in
      // Correlations' key-block fan-out
      java.lang.Double.doubleToLongBits(fwd) == java.lang.Double.doubleToLongBits(rev)
    }, minTests = 40)
  }

  test("the Pearson kernel is evaluated inside a whole-stage codegen stage") {
    val df = Seq((Seq(1L, 2L), Seq(0.5, 1.5), Seq(1L, 2L), Seq(2.0, 1.0)))
      .toDF("tsA", "retA", "tsB", "retB")
    assert(compiledInStage(df.select(
      PearsonAligned(col("tsA"), col("retA"), col("tsB"), col("retB")).as("p")))(
      _.isInstanceOf[PearsonAligned]))
  }
}
