package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.md5Long

/** Deterministic sampling for training-data curation. Spark's own
  * `df.sample()` is seed-dependent on partitioning and row order — useless
  * as a reproducible pipeline stage. These hash the ROW IDENTITY instead,
  * so the same row is in or out of the sample on every engine, every run,
  * every partitioning.
  *
  *  - [[bernoulli]]: keep a row iff `md5(id) mod 10^6 < p·10^6` — a pure
  *    filter: zero shuffle, pushes past column pruning, scales to any size.
  *  - [[stratified]]: the `k` smallest-hash rows per group — cluster-then-
  *    sample curation (pair with [[Similarity.kMeans]] labels), balanced
  *    class subsets. One shuffle on the group key.
  */
object Sampling {

  private val M = 1000000L

  /** Deterministic Bernoulli sample: keep ≈ `fraction` of rows, decided by
    * the row id's md5 — engine- and partitioning-independent.
    */
  def bernoulli(df: DataFrame, idCol: Column, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction in [0,1], got $fraction")
    // round, don't truncate: 0.3 * 10^6 is 299999.9999… in binary — .toLong
    // would silently exclude the residue the contract includes
    df.filter(pmod(md5Long(idCol.cast("string")), lit(M)) <
      lit(math.round(fraction * M)))
  }

  /** Deterministic dataset SPLIT — the train/validation/test partitioning
    * stage: every row is assigned to exactly one named split by its id's
    * md5 bucket against cumulative per-mille cuts (e.g. train 900 / val
    * 950 / test 1000 ⇒ 90/5/5). A pure row-local projection: zero shuffle,
    * engine-exact (same integer-md5 machinery as [[bernoulli]]), stable
    * under corpus growth — a row's split never changes when other rows
    * arrive, the property that keeps a held-out set held out across
    * pipeline re-runs. The salt decorrelates the split from [[bernoulli]]
    * subsampling on the same id space (otherwise "10% sample" would be a
    * subset of "first split" instead of cutting across all splits).
    */
  def split(df: DataFrame, idCol: Column,
      milliCuts: Seq[(String, Long)], salt: String = "split"): DataFrame = {
    require(milliCuts.nonEmpty && milliCuts.last._2 == 1000L,
      s"cumulative per-mille cuts must end at 1000: $milliCuts")
    require(milliCuts.map(_._2) == milliCuts.map(_._2).sorted &&
      milliCuts.map(_._2).distinct.size == milliCuts.size,
      s"cuts must be strictly increasing: $milliCuts")
    val bucket = pmod(
      md5Long(concat(lit(salt + ":"), idCol.cast("string"))), lit(M))
    val assign = milliCuts.init.foldRight(lit(milliCuts.last._1)) {
      case ((name, cut), rest) => when(bucket < lit(cut * 1000L), name)
        .otherwise(rest)
    }
    df.withColumn("split", assign)
  }

  /** LEAKAGE-SAFE split: like [[split]], but the md5 bucket is computed on
    * the document's near-dup CLUSTER representative instead of its own id,
    * so every member of a duplicate cluster lands in the SAME split. With
    * per-doc assignment, two near-identical documents can straddle
    * train/test and the held-out set silently measures memorization — the
    * classic eval-leakage bug a curation pipeline must close. `pairs` is
    * any near-dup pair relation (`id1`, `id2` — e.g. [[Dedup.minHashLsh]]);
    * docs in no pair keep their own id as the key, so the assignment
    * degenerates to exactly [[split]] on a fully-unique corpus.
    *
    * Scale shape: the label relation from [[Dedup.components]] is bounded
    * by the number of *duplicated* docs (a small fraction of any corpus).
    * Up to the driver bound on pairs it is labeled by one driver-side
    * union-find and arrives as a local relation, which the corpus join
    * broadcasts; above it the distributed rounds build it and AQE picks
    * the join. Either way the corpus pays one equi-join on its id, and the
    * split test itself stays row-local.
    * Growth caveat (inherent to the semantics, not this implementation):
    * a NEW document can merge two clusters and thus move a doc's key —
    * leak-freedom across re-runs requires re-deriving splits after each
    * dedup epoch, which is why the output carries `split_key` for diffing.
    */
  def splitLeakFree(docs: DataFrame, pairs: DataFrame,
      milliCuts: Seq[(String, Long)], idCol: String = "doc_id",
      salt: String = "split"): DataFrame = {
    val labels = Dedup.components(pairs.select(col("id1"), col("id2")))
    val keyed = docs
      .join(labels, docs(idCol) === labels("id"), "left")
      .withColumn("split_key",
        coalesce(col("comp"), docs(idCol)).cast("long"))
      .drop("id", "comp")
    split(keyed, col("split_key"), milliCuts, salt)
  }

  /** Deterministic EXACT-SIZE uniform sample: the `k` rows with the
    * globally smallest md5(salt:id), id tie-break — a fixed-size random
    * subset that is engine-, partitioning- and re-run-stable (same hash
    * family as [[bernoulli]], which fixes the RATE instead). Exact size is
    * what an eval set needs: "exactly 10k docs", not "≈2%".
    *
    * Plan shape at scale: sort-then-limit compiles to TakeOrderedAndProject
    * — every partition keeps only its local k smallest, the driver merges
    * P·k candidate rows — no global sort, no corpus shuffle. Growth caveat
    * (inherent to exact-k semantics): a new row with a smaller hash
    * displaces the current largest member; when growth-stability matters
    * more than exact size, use [[bernoulli]].
    */
  def topKByHash(df: DataFrame, idCol: Column, k: Int,
      salt: String = "topk"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.withColumn("__hk",
        md5Long(concat(lit(salt + ":"), idCol.cast("string"))))
      .orderBy(col("__hk"), idCol)
      .limit(k)
      .drop("__hk")
  }

  /** Deterministic WEIGHTED sample without replacement — Efraimidis–
    * Spirakis A-Res: each row draws `u ∈ (0,1)` from its id's md5 bucket
    * (`u = (bucket + 0.5)/10^6`, never 0 or 1) and keeps score
    * `−ln(u)/w`; the `k` smallest scores are the sample, and P(selected)
    * is proportional to weight exactly as weighted-without-replacement
    * demands. Fully deterministic (same md5 machinery as [[bernoulli]]) so
    * any engine reproduces the exact member set — the property Spark's own
    * seed-and-partitioning-dependent `sampleBy` lacks. Plan shape is
    * [[topKByHash]]'s: sort-then-limit ⇒ TakeOrderedAndProject, local
    * top-k per partition, no global sort. Rows with null or non-positive
    * weight are excluded (a zero weight must never be sampled; −ln(u)/0
    * would select it always).
    */
  def weightedTopK(df: DataFrame, idCol: Column, weightCol: Column, k: Int,
      salt: String = "wsample"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (pmod(md5Long(concat(lit(salt + ":"), idCol.cast("string"))),
      lit(M)).cast("double") + lit(0.5)) / lit(M.toDouble)
    df.filter(weightCol.isNotNull && weightCol > 0)
      .withColumn("es_score", -log(u) / weightCol.cast("double"))
      .orderBy(col("es_score"), idCol)
      .limit(k)
  }

  /** TEMPERATURE-scaled mixture sampling — the multilingual/multi-source
    * rebalancing trick (alpha-smoothing, Devlin et al. 2019 §A; used by
    * every multilingual LM corpus): sample source `s` with probability
    * ∝ n_s^alpha instead of ∝ n_s, so head sources shrink and tail sources
    * survive without being memorized via repetition. alpha = 1 keeps the
    * natural distribution; alpha = 0 makes all sources equal. Per-source
    * accept rate = target · w_s / n_s (capped at 1) with
    * w_s = n_s^alpha / Σ n_t^alpha, decided per row by the deterministic
    * md5 machinery of [[bernoulli]] — so membership is engine- and
    * partitioning-exact, and re-runs are stable. Rates quantize to
    * per-million integer thresholds before the comparison (the FP work
    * happens once on the |sources|-row relation, never per row).
    *
    * Plan: one tiny per-source count, a 1-row weight-total broadcast, the
    * |sources|-row threshold relation broadcast back — the corpus itself
    * is a single filter-scan, zero shuffles.
    */
  def temperatureSample(df: DataFrame, srcCol: String, idCol: Column,
      alpha: Double = 0.7, target: Long = 2000L,
      salt: String = "tmix"): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha in [0,1], got $alpha")
    require(target >= 1, s"target must be >= 1, got $target")
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n_s"))
      .withColumn("w0", pow(col("n_s").cast("double"), lit(alpha)))
    val tot = counts.agg(sum(col("w0")).as("wt"))
    val rates = counts.crossJoin(broadcast(tot))
      .withColumn("thresh", least(lit(M),
        round(lit(target.toDouble) * col("w0") / col("wt") /
          col("n_s").cast("double") * lit(M)).cast("long")))
      .select(col(srcCol), col("thresh"))
    df.join(broadcast(rates), srcCol)
      .filter(pmod(md5Long(concat(lit(salt + ":"), idCol.cast("string"))),
        lit(M)) < col("thresh"))
      .select(idCol, col(srcCol), col("thresh"))
  }

  /** Deterministic stratified sample: the `k` smallest-md5 rows per group
    * (id tie-break) — every group contributes exactly min(k, |group|) rows.
    */
  def stratified(df: DataFrame, groupCols: Seq[String], idCol: Column,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(md5Long(idCol.cast("string")), idCol)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Exact per-group top-`k` QUOTA — "keep the best K documents per
    * source/domain", the over-represented-host cap every crawl-curation
    * pipeline applies. Ordering is (`scoreCol` desc, `idCol` asc), output
    * carries the 1-based `rank` within the group.
    *
    * A single `row_number` window over the raw corpus would sort every
    * group in one task — and web-crawl group sizes are Zipfian, so the
    * hottest domain becomes a straggler (or an OOM) at scale. Instead the
    * quota runs as a salted two-stage tournament: stage 1 partitions each
    * group into `cells` hash sub-cells and keeps each cell's local top-k
    * (any global top-k row is a fortiori top-k in its own cell, so no
    * survivor is lost); stage 2 ranks the ≤ `cells`·k survivors per group
    * — a relation bounded by |groups|·cells·k, independent of corpus size.
    * Same shuffle count as the naive window (two narrow ones vs one wide
    * one), but no task ever sorts more than ~|group|/cells rows.
    */
  def quotaPerGroup(df: DataFrame, groupCols: Seq[String], scoreCol: Column,
      idCol: Column, k: Int, cells: Int = 32): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val pruned = if (cells == 1) df else {
      val w1 = Window
        .partitionBy(groupCols.map(col) :+ col("__cell"): _*)
        .orderBy(scoreCol.desc, idCol)
      df.withColumn("__cell", pmod(hash(idCol), lit(cells)))
        .withColumn("__rk", row_number().over(w1))
        .filter(col("__rk") <= k)
        .drop("__rk", "__cell")
    }
    val w2 = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(scoreCol.desc, idCol)
    pruned.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
  }

  /** TOKEN-BUDGET corpus trim — "give me the best N-token corpus": rank
    * docs by (`scoreCol` desc, id asc), admit in rank order while the
    * running token total stays under `budget`. The doc that crosses the
    * boundary is INCLUDED (budget is a target, not a hard cap — the
    * overflow is at most one document), matching the greedy admission a
    * curation pipeline runs when sizing a training mix.
    *
    * Scale shape: the global rank is [[Ranking.withGlobalRank]] (range
    * sort + per-partition offsets — no single-partition `row_number`),
    * and the running total is [[Packing.packSequences]]'s two-level
    * distributed prefix sum (serial step = one |buckets|-row window).
    * The final filter is row-local; no stage sorts or sums the corpus in
    * one task.
    */
  def trimToTokenBudget(scored: DataFrame, budget: Long,
      idCol: String = "doc_id", tokCol: String = "n_tokens",
      scoreCol: String = "quality_score"): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val base = scored.select(col(idCol).cast("long").as("doc_id"),
      col(tokCol).cast("long").as("n_tokens"), col(scoreCol).as("__score"))
    val ranked = Ranking.withGlobalRank(base,
      Seq(col("__score").desc, col("doc_id")))
    val kept = Packing.packSequences(
        ranked.select(col("rank"), col("n_tokens")),
        budget = budget, idCol = "rank")
      .withColumnRenamed("doc_id", "rank")
      .filter(col("tok_start") < budget)
      .select(col("rank"), col("tok_start"))
    kept.join(ranked, "rank")
      .select(col("doc_id"), col("rank"), col("n_tokens"),
        col("tok_start"), col("__score").as(scoreCol))
  }

  /** Deterministic weighted corpus MIXTURE — the multi-source sampling
    * stage of a training-data pipeline: given N source corpora and target
    * per-mille proportions, emit a mix whose composition approximates the
    * targets, bounded by whichever source runs out first (the "binding"
    * source is taken ~whole; the others are down-sampled to match).
    *
    * Mechanics, all INTEGER arithmetic so any engine reproduces the exact
    * row set: with source sizes `n_i` and weights `w_i` (per mille),
    * `T = min_i(n_i·1000 div w_i)` is the mix size (×1000), each source's
    * target row count is `k_i = w_i·T div 1000`, and a row is accepted iff
    * `md5(source:id) mod 10^6 < k_i·10^6 div n_i` — hash-based acceptance,
    * the same filter shape as [[bernoulli]]: zero shuffle, no ordering
    * assumptions, and STREAMING-SAFE (a row's membership never depends on
    * other rows' arrival; re-computing the thresholds as sources grow is
    * the caller's re-balance policy). Achieved proportions carry binomial
    * hash noise of O(1/√k_i) — sampling, not exact partitioning. The salt
    * (`source:`) decorrelates sources that share an id space.
    *
    * `sizes_i` come from ONE Spark job (a union of per-source scalar
    * counts — not N sequential driver round-trips); in production they
    * come from table statistics. Nothing data-sized reaches the driver.
    */
  def mixture(sources: Seq[(String, DataFrame)], milliWeights: Seq[Long],
      idCol: String = "doc_id"): DataFrame = {
    val th = mixtureThresholds(sources, milliWeights)
    sources.zip(th).map { case ((name, df), (_, thresh)) =>
      df.filter(mixtureAccept(name, thresh, col(idCol).cast("long")))
        .select(lit(name).as("source"), col(idCol).cast("long").as("doc_id"))
    }.reduce(_ unionByName _)
  }

  /** The per-source acceptance thresholds (numerator over 10^6) behind
    * [[mixture]] — exposed so a STREAMING ingest can apply the identical
    * row-local membership test per epoch ([[mixtureAccept]]): thresholds
    * are scalars computed from source sizes (here one counting job; in
    * production, table statistics), and a row's membership depends on
    * nothing but its own (source, id) — so a replay sliced ANY way accepts
    * exactly the batch row set. Re-computing thresholds as sources grow is
    * the caller's re-balance policy.
    */
  def mixtureThresholds(sources: Seq[(String, DataFrame)],
      milliWeights: Seq[Long]): Seq[(String, Long)] = {
    require(sources.nonEmpty && sources.size == milliWeights.size,
      s"need one weight per source: ${sources.size} vs ${milliWeights.size}")
    require(milliWeights.forall(_ > 0), s"weights must be > 0: $milliWeights")
    require(milliWeights.sum == 1000L,
      s"per-mille weights must sum to 1000, got ${milliWeights.sum}")
    // one action for all source sizes: N global-agg branches under one
    // union — a single job whose stages run concurrently, instead of N
    // sequential count() round-trips
    val sizes: Seq[Long] = {
      val counted = sources.zipWithIndex.map { case ((_, df), i) =>
        df.groupBy().agg(count(lit(1)).as("__n"))
          .select(lit(i).as("__i"), col("__n"))
      }.reduce(_ unionByName _)
      val byIdx = counted.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      sources.indices.map(byIdx.getOrElse(_, 0L))
    }
    val t = sizes.zip(milliWeights).map { case (n, w) => n * 1000L / w }.min
    sources.map(_._1).zip(milliWeights).zip(sizes).map { case ((name, w), n) =>
      val target = w * t / 1000L
      name -> (if (n == 0L) 0L else target * M / n)
    }
  }

  /** Row-local membership test for one mixture source: accept iff
    * `md5(source:id) mod 10^6 < thresh`. `id` must be the long-cast id
    * (matching [[mixture]]'s cast) for bit-identical membership.
    */
  def mixtureAccept(source: String, thresh: Long, id: Column): Column =
    pmod(md5Long(concat_ws(":", lit(source), id.cast("string"))), lit(M)) <
      lit(thresh)
}
