package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Caches, Candles, Correlations, Curation, Dedup, Rolling, TextAnalysis}
import graft.sources.Tables

/** One batch pipeline run, reduced to the fingerprint the reference
  * computes; the traced twin runs the same composition one layer at a time.
  */
trait BatchWorkload {
  /** Run the pipeline once and return its output fingerprint. */
  def run(spark: SparkSession): Map[String, Any]

  /** The same run with a span around each layer's public call and the
    * layer's output materialized at the boundary. Returns the fingerprint
    * and the per-layer counts, which are computed aside from the
    * operation's time ([[Tracer.aside]]).
    */
  def traced(spark: SparkSession, t: Tracer, op: Int): (Map[String, Any], Map[String, Any])
}

object BatchWorkload {

  def apply(name: String, dir: String): BatchWorkload = name match {
    case "fx_batch" => new Prefixed(Seq("pairs." -> new FxPairs(s"$dir/pairs"),
      "ticks." -> new FxTicks(s"$dir/ticks")))
    case "docs_curation" => new DocsCuration(s"$dir/docs")
    case other => throw new IllegalArgumentException(s"unknown batch workload $other")
  }

  /** Reduce `df` to named aggregates, one job; empty sums read as 0. */
  def fingerprint(df: DataFrame, aggs: Seq[(String, Column)]): Map[String, Any] =
    values(df.agg(aggs.head._2.as(aggs.head._1),
      aggs.tail.map { case (n, c) => c.as(n) }: _*).head(), aggs, 0)

  /** [[fingerprint]] per value of `key`, keyed by its string form. */
  def fingerprintBy(df: DataFrame, key: Column,
      aggs: Seq[(String, Column)]): Map[String, Any] =
    df.groupBy(key.as("__k")).agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.get(0).toString -> values(r, aggs, 1)).toMap

  private def values(row: Row, aggs: Seq[(String, Column)],
      from: Int): Map[String, Any] =
    aggs.indices.map { i =>
      val v: Any = if (row.isNullAt(from + i)) 0L else row.get(from + i) match {
        case d: Double => d
        case n: java.lang.Number => n.longValue()
        case other => other
      }
      aggs(i)._1 -> v
    }.toMap

  def keyId(c: Column): Column = substring(c, 2, 64).cast("long")

  def floatSums(c: String): Seq[(String, Column)] =
    Seq(s"sum_$c" -> sum(col(c)), s"abs_$c" -> sum(abs(col(c))))

  /** Persist and count: the layer's output exists before the next span. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Pair-row fingerprint shared with the streaming check. */
  def pairAggs(r: String): Seq[(String, Column)] = Seq(
    "rows" -> count(lit(1)),
    "sum_n" -> sum(col("n")),
    "sum_nan" -> sum(col("isNaN").cast("long")),
    "sum_ids" -> sum(keyId(col("key1")) + keyId(col("key2"))),
    "sum_idprod" -> sum(keyId(col("key1")) * keyId(col("key2"))),
    "sum_pts" -> sum(col("xCount").cast("long") + col("yCount").cast("long")),
    "sum_whour" -> sum(floor(unix_seconds(col("windowStart")) / 3600)),
    "sum_r" -> sum(col(r)),
    "abs_r" -> sum(abs(col(r))))
}

import BatchWorkload._

/** The fx_corr_nan composition: candles → log-returns → sliding all-pairs
  * Pearson with NaN propagation, thresholded on the 6-digit value.
  */
final class FxPairs(dir: String) extends BatchWorkload {

  private def pairs(candles: DataFrame): DataFrame =
    Correlations.fromCandles(candles, "6 hours", "3 hours", minCorr = 0.4999,
        propagateNaN = true)
      .withColumn("r",
        when(col("isNaN"), col("corr")).otherwise(round(col("corr"), 6)))
      .filter(abs(col("r")) >= 0.5)

  /** Per-window fingerprints, flattened as `w<window start hour>.<name>`. */
  private def fp(candles: DataFrame, spark: SparkSession): Map[String, Any] =
    try fingerprintBy(pairs(candles), floor(unix_seconds(col("windowStart")) / 3600),
        pairAggs("r")).flatMap { case (w, m) =>
      m.asInstanceOf[Map[String, Any]].map { case (k, v) => s"w$w.$k" -> v }
    }
    finally Caches.release(spark, blocking = true)

  def run(spark: SparkSession): Map[String, Any] =
    fp(Candles.aggregate(Tables.eventsAsTicks(spark, dir), "1 hour"), spark)

  def traced(spark: SparkSession, t: Tracer, op: Int) = {
    val (ticks, nTicks) = t.span(op, "sources")(
      materialize(Tables.eventsAsTicks(spark, dir)))
    val (candles, nCandles) = t.span(op, "candles")(
      materialize(Candles.aggregate(ticks, "1 hour")))
    val out = t.span(op, "correlations")(fp(candles, spark))
    (out, t.aside {
      val live = candles.filter(col("isLive")).count()
      val perWindow = Correlations.pointCounts(Correlations.logReturns(candles),
          "6 hours", "3 hours")
        .groupBy("windowStart").agg(count(lit(1)).as("k"))
        .agg(sum(col("k")), sum(col("k") * (col("k") - 1) / 2)).head()
      Seq(ticks, candles).foreach(_.unpersist(true))
      Map("sources.rows_out" -> nTicks, "candles.rows_out" -> nCandles,
        "candles.live" -> live,
        "correlations.packets" -> perWindow.getLong(0),
        "correlations.pair_candidates" -> perWindow.getDouble(1).toLong,
        "correlations.pairs_out" -> out.collect {
          case (k, n: Long) if k.endsWith(".rows") => n }.sum)
    })
  }
}

/** The fx_indicators composition: candles → the rolling indicator family. */
final class FxTicks(dir: String) extends BatchWorkload {

  private val cols = Seq("roll_n", "roll_avg", "roll_min", "roll_max",
    "roll_std", "ewma", "macd", "signal", "hist", "rsi", "bb_mid",
    "bb_lower", "bb_upper", "bb_pctb")

  private def fp(candles: DataFrame): Map[String, Any] =
    fingerprint(
      Rolling.indicators(candles.filter(col("close.askPrice").isNotNull),
        "key", "closeTime", col("close.askPrice")),
      Seq("rows" -> count(lit(1)),
        "sum_ids" -> sum(keyId(col("key"))),
        "sum_hours" -> sum(floor(unix_micros(col("closeTime")) / 3600000000L))) ++
        cols.flatMap(c => (s"cnt_$c" -> count(col(c))) +: floatSums(c)))

  def run(spark: SparkSession): Map[String, Any] =
    fp(Candles.aggregate(Tables.eventsAsTicks(spark, dir), "1 hour"))

  def traced(spark: SparkSession, t: Tracer, op: Int) = {
    val (ticks, nTicks) = t.span(op, "sources")(
      materialize(Tables.eventsAsTicks(spark, dir)))
    val (candles, nCandles) = t.span(op, "candles")(
      materialize(Candles.aggregate(ticks, "1 hour")))
    val out = t.span(op, "rolling")(fp(candles))
    (out, t.aside {
      val live = candles.filter(col("isLive")).count()
      Seq(ticks, candles).foreach(_.unpersist(true))
      Map("sources.rows_out" -> nTicks, "candles.rows_out" -> nCandles,
        "candles.live" -> live, "rolling.rows_out" -> out("rows"))
    })
  }
}

/** Several compositions, each on its own input, run one after the other
  * as one operation.
  * Fingerprint keys carry each part's prefix; per-layer counts of the same
  * name add up.
  */
final class Prefixed(parts: Seq[(String, BatchWorkload)]) extends BatchWorkload {

  private def prefixed(p: String, m: Map[String, Any]) = m.map { case (k, v) => s"$p$k" -> v }

  def run(spark: SparkSession): Map[String, Any] =
    parts.flatMap { case (p, w) => prefixed(p, w.run(spark)) }.toMap

  def traced(spark: SparkSession, t: Tracer, op: Int) = {
    val runs = parts.map { case (p, w) => p -> w.traced(spark, t, op) }
    val counts = runs.flatMap(_._2._2).groupMapReduce(_._1)(_._2) {
      case (a: Long, b: Long) => a + b
      case (_, b) => b
    }
    (runs.flatMap { case (p, (fp, _)) => prefixed(p, fp) }.toMap, counts)
  }
}

/** The corpus_curation composition: MinHash-LSH near-duplicate survivors →
  * quality floor → decontamination against the doc_id % 97 slice.
  */
final class DocsCuration(dir: String) extends BatchWorkload {

  private def bench(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 97 === 0).withColumnRenamed("doc_id", "bench_id")

  private def fp(curated: DataFrame): Map[String, Any] =
    fingerprint(curated.filter(col("doc_id") % 97 =!= 0),
      Seq("rows" -> count(lit(1)), "sum_ids" -> sum(col("doc_id")),
        "sum_tokens" -> sum(col("n_tokens"))) ++ floatSums("quality_score")
        .map { case (n, c) => n.replace("quality_score", "q") -> c })

  def run(spark: SparkSession): Map[String, Any] = {
    val docs = Tables(spark, dir, "documents")
    try fp(Curation.curate(docs, bench(docs)))
    finally Caches.release(spark, blocking = true)
  }

  def traced(spark: SparkSession, t: Tracer, op: Int) = {
    val (docs, nDocs) = t.span(op, "sources")(
      materialize(Tables(spark, dir, "documents")))
    val (sh, nSh) = t.span(op, "dedup.shingle")(
      materialize(Dedup.shingleRows(docs, "text", "doc_id", 3)))
    val (pairs, nPairs) = t.span(op, "dedup.lsh")(
      materialize(Dedup.minHashLshFromShingles(sh, minJaccard = 0.5)))
    val (surv, _) = t.span(op, "dedup.survivors")(
      materialize(Dedup.survivors(docs, pairs.select(col("id1"), col("id2")))))
    val (contaminated, nCont) = t.span(op, "text.contamination")(
      materialize(TextAnalysis.contaminationFromShingles(sh, bench(docs), 3, 2)
        .select(col("doc_id")).distinct()))
    val (qualified, _) = t.span(op, "text.quality")(
      materialize(TextAnalysis.quality(surv)
        .filter(col("quality_score") >= 0.45)))
    val out = t.span(op, "curation")(fp(
      qualified.join(contaminated, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality_score"))))
    Caches.release(spark, blocking = true)
    (out, t.aside {
      Seq(docs, sh, pairs, surv, contaminated, qualified).foreach(_.unpersist(true))
      Map("sources.rows_out" -> nDocs, "dedup.shingles_out" -> nSh,
        "dedup.pairs_out" -> nPairs, "text.contaminated_out" -> nCont)
    })
  }
}
