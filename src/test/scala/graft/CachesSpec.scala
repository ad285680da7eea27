package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Caches, Correlations, Curation, Dedup}
import graft.streaming.StreamingCorrelations

/** The cache owner registry: operator pins are tracked per session,
  * release() drops exactly the graft-owned relations and leaves caller
  * caches alone; the streaming paths register no pin at all.
  */
class CachesSpec extends SparkSpec {

  import spark.implicits._

  private def ticks = fixtures.SampleData.dataset(spark).toDF()

  test("operator pins register with Caches and release() unpersists them") {
    Caches.release(spark, blocking = true) // isolate from other suites
    // Suites before this one may leave RETURNED localCheckpoint relations
    // pinned (released only by the ContextCleaner on GC) — assert relative
    // to that baseline, not an absolutely-empty store.
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val returns = Correlations.logReturns(
      operators.Candles.aggregate(ticks, "120 seconds",
        Some(fixtures.SampleData.Keys)))
    val corr = Correlations.correlate(returns, minCorr = 0.0)
    corr.write.format("noop").mode("overwrite").save()
    assert(Caches.pinnedCount(spark) > 0, "correlate should pin its packets")

    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different text about spark aggregation plans"))
      .toDF("doc_id", "text")
    Dedup.ngramJaccard(docs, minJaccard = 0.5)
      .write.format("noop").mode("overwrite").save()
    assert(Caches.pinnedCount(spark) > 1, "ngramJaccard should pin too")

    Caches.release(spark, blocking = true)
    assert(Caches.pinnedCount(spark) == 0)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(leaked.isEmpty,
      s"release must leave no pinned RDDs behind beyond the baseline: $leaked")
  }

  test("streaming correlation replay registers no pin; curate's pins drop with one release") {
    Caches.release(spark, blocking = true) // isolate from other suites
    val returns = Correlations.logReturns(
      operators.Candles.aggregate(ticks, "120 seconds",
        Some(fixtures.SampleData.Keys)))
    val before = Caches.pinnedCount(spark)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val corr = StreamingCorrelations.replayBatch(returns, "600 seconds",
      "300 seconds", minCorr = 0.0, batches = 2)
    assert(corr.count() > 0, "the replay must correlate at least one pair")
    assert(Caches.pinnedCount(spark) == before,
      "the streaming pair join persists its epochs itself and must not pin")
    // a pin taken inside foreachBatch registers under the query's cloned
    // session, where no caller can release it — only the context-wide
    // persisted RDDs show it
    val left = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(left.isEmpty, s"the replay left persisted RDDs behind: $left")

    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different text about spark aggregation plans"))
      .toDF("doc_id", "text")
    val bench = Seq((1L, "a benchmark question about spark aggregation plans"))
      .toDF("bench_id", "text")
    Curation.curate(docs, bench).write.format("noop").mode("overwrite").save()
    assert(Caches.pinnedCount(spark) > 0, "curate should pin its shingles")
    Caches.release(spark, blocking = true)
    assert(Caches.pinnedCount(spark) == 0)
  }

  test("a pinning operator inside foreachBatch fails the query naming the no-pin rule") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val before = Caches.pinnedCount(spark)
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        Dedup.ngramJaccard(b, minJaccard = 0.5)
          .write.format("noop").mode("overwrite").save()
      }
      .start()
    val e = try {
      ms.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "the quick brown fox jumps over the lazy dog"))
      intercept[Exception](q.processAllAvailable())
    } finally q.stop()
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_)).mkString("\n")
    assert(messages.contains("streaming operators must not pin"), messages)
    assert(Caches.pinnedCount(spark) == before)
  }

  test("release leaves caller-owned caches untouched") {
    val mine = spark.range(100).toDF("n").cache()
    mine.count() // materialize the cache
    Caches.release(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "caller cache must survive a graft release")
    mine.unpersist(blocking = true)
  }
}
