package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Partition-width repairs shared by the pair-producing, explode-heavy and
  * per-key operators.
  *
  * The rule: a stage whose work follows its BYTES is left to Spark — file
  * splits for scans, AQE's byte-coalesced reads for exchanges. A stage
  * whose work does NOT follow its bytes gets an explicit partition count:
  * a compact scan feeding an explosion ([[fanToParallelism]]), or a small
  * keyed exchange feeding per-key window scans or a quadratic pair join
  * ([[fanToShufflePartitions]]). An explicit count makes the exchange
  * `REPARTITION_BY_NUM`, which AQE never coalesces.
  *
  * Spark sizes a file scan's partitions by BYTES (`maxPartitionBytes` /
  * `openCostInBytes`), and parquet cannot split below a row group — so a
  * compact input (the driver testdata is ONE row group per table) pins
  * every stage up to the first exchange onto 1-3 cores, no matter what the
  * downstream work multiplies that input into (a |q|×n broadcast-join pair
  * space, a ~200× shingle explode with per-shingle md5). Fanning moves
  * only the compact pre-explosion relation and restores the session's full
  * parallelism; a corpus already at or above session parallelism — the
  * 100 TB case, thousands of splits — passes through untouched.
  *
  * Measured (BASELINE r12): ann_pq's 8M-pair stage 14 s → 1.1 s at the g1
  * tier; corpus_curation 14.4 → 8.1 s, minHashLsh 8.2 → 3.2 s, zipfFit
  * 3.0 → 1.1 s warm on stash-alternated builds. Negative where stage-1 is
  * light: the candle pipeline (post-shuffle gap-fill/carry dominates) and
  * bm25 (TF pre-agg) measured neutral.
  */
object Scans {

  /** Repartition `df` to the session default parallelism when that WIDENS
    * it and its plan-stats size estimate reaches `minBytes` (no job runs —
    * the estimate is plan-time). `minBytes = 0` skips the size guard: right
    * when per-byte compute dwarfs the exchange (text shingling); pass a
    * threshold when the downstream work is proportional to bytes (vector
    * math), where exchanging a tiny relation costs more than the
    * single-task stage it replaces.
    */
  def fanToParallelism(df: DataFrame, minBytes: Long = 0L): DataFrame =
    // streaming plans can't be probed (no executable batch plan before the
    // query starts) and don't need to be: epoch slices are tiny and the
    // replay harness sizes its own state partitions — pass through
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      // size guard first: plan-stats only (analysis + optimization, no
      // physical planning) — a relation below the threshold never pays the
      // partition probe at all
      if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(minBytes)) df
      else if (partitionCount(df) >= target) df
      else df.repartition(target)
    }

  /** The relation's partition count read off its OWN cached QueryExecution
    * (`toRdd` is a lazy val on it — one physical-planning pass, reused).
    * The previous `df.rdd` probe appended a row→object deserializer to the
    * logical plan and ran a SECOND full analyze/optimize/plan cycle per
    * call, discarded immediately; on plan-heavy operators (PQ-sized trees)
    * that alone reached seconds of driver time.
    */
  private def partitionCount(df: DataFrame): Int =
    df.queryExecution.toRdd.getNumPartitions

  /** Hash-repartition `df` on `keys` to the session's own
    * `spark.sql.shuffle.partitions` (the setting [[Ranking.withGlobalRank]]
    * already sizes its range partitions by).
    *
    * For a keyed exchange whose downstream work does not follow its bytes:
    * per-key window scans, or a relation a quadratic pair join streams
    * over. AQE sizes an ordinary exchange by bytes; on the fx_batch
    * benchmark's inputs the candle key exchange writes a few MB, so it was
    * merged into 1-4 partitions (a count that varied from run to run on one
    * input) and every stage after it inherited that width. With the count explicit the exchange stays at
    * session width. It still satisfies a downstream `partitionBy(keys)`, so
    * where such an exchange is needed anyway it replaces it instead of
    * adding one (PlanSpec pins this on the AQE final plan).
    */
  def fanToShufflePartitions(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)
}
