package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.fixtures.SampleData
import graft.operators.{Caches, Candles, Correlations, Rolling}

/** The FX per-key and pair stages run at the session's
  * `spark.sql.shuffle.partitions` (`Scans.fanToShufflePartitions`), so
  * their results must not depend on that setting. 3 is a count that does
  * not divide the pair join's 8 key blocks; 1 and 8 are the extremes
  * around the suite's default of 4.
  */
class ShufflePartitionsSpec extends SparkSpec {

  private val counts = Seq(1, 3, 8)

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Every row of `df` rendered and sorted: an order-free, bit-exact view. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def candles =
    Candles.aggregate(SampleData.dataset(spark).toDF(), "120 seconds",
      Some(SampleData.Keys))

  private def indicators: Seq[String] =
    rows(Rolling.indicators(candles.filter(col("close.askPrice").isNotNull),
      "key", "closeTime", col("close.askPrice")))

  private def pairs: Seq[String] =
    try rows(Correlations.correlate(Correlations.logReturns(candles),
      minCorr = 0.0, propagateNaN = true))
    finally Caches.release(spark, blocking = true)

  test("candles -> Rolling.indicators: same rows at 1, 3 and 8 shuffle partitions") {
    val base = withShufflePartitions(counts.head)(indicators)
    assert(base.nonEmpty)
    counts.tail.foreach { n =>
      assert(withShufflePartitions(n)(indicators) === base,
        s"indicators changed at $n shuffle partitions")
    }
  }

  test("Correlations.correlate (NaN propagated): same rows at 1, 3 and 8 shuffle partitions") {
    val base = withShufflePartitions(counts.head)(pairs)
    assert(base.nonEmpty)
    counts.tail.foreach { n =>
      assert(withShufflePartitions(n)(pairs) === base,
        s"pairs changed at $n shuffle partitions")
    }
  }
}
