package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** END-TO-END corpus curation: the composed pipeline a training-data team
  * actually ships — near-dup removal, quality filtering, and benchmark
  * decontamination over one document pool — as a single operator, the
  * LLM-pipeline analog of [[Rolling.indicators]]' shared fan-out.
  *
  * Stages (each individually oracle-gated elsewhere; this composition is
  * gated as `corpus_curation`):
  *
  *  1. MinHash-LSH near-dup pairs → connected components → per-cluster
  *     survivors ([[Dedup.minHashLsh]]/[[Dedup.survivors]]);
  *  2. quality floor on the composite score ([[TextAnalysis.quality]]);
  *  3. eval-leakage drop: any document sharing ≥ `minShared` word n-grams
  *     with a benchmark item is removed ([[TextAnalysis.contamination]]).
  *
  * Scale shape is the sum of its parts — banded LSH keeps dedup off the
  * all-pairs cliff, the cluster labels come from one bounded collect and a
  * driver-side union-find while the pair set fits the driver bound
  * (distributed rounds above it, see [[Dedup.components]]), quality is a
  * pure scan, decontamination broadcasts the benchmark — and the filters
  * between stages are semi/anti joins on compact id relations. The corpus
  * is shingled exactly ONCE: the pinned `(id, shingle)` relation feeds the
  * MinHash signature pipeline, the exact-Jaccard verify, AND the
  * decontamination probe. The probe runs over
  * the FULL corpus shingles un-restricted — the survivor restriction is
  * applied implicitly by the final left_anti, so probing the superset is
  * harmless and avoids a survivor semi-join. At 100 TB the explode scan is
  * the pipeline's dominant linear cost, and it is not paid twice.
  */
object Curation {

  /** Curated (doc_id, n_tokens, quality_score) rows surviving all three
    * stages. `bench` carries (`bench_id`, text).
    *
    * CACHE CONTRACT: the shared shingle relation and the LSH band and
    * candidate relations are pinned through [[Caches]]; call
    * `Caches.release(spark)` once the result is consumed.
    */
  def curate(docs: DataFrame, bench: DataFrame,
      minJaccard: Double = 0.5, minQuality: Double = 0.45,
      n: Int = 3, minShared: Int = 2): DataFrame = {
    val (_, _, fin) = stageRelations(docs, bench, minJaccard, minQuality,
      n, minShared)
    fin.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
      col("quality_score"))
  }

  /** The three stage relations behind [[curate]] and [[report]] — built
    * once so the composed operator and its observability report can never
    * drift: (survivors, quality-qualified, final).
    */
  private def stageRelations(docs: DataFrame, bench: DataFrame,
      minJaccard: Double, minQuality: Double, n: Int, minShared: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val sh = Caches.pin(Dedup.shingleRows(docs, "text", "doc_id", n))
    val pairs = Dedup.minHashLshFromShingles(sh, minJaccard = minJaccard)
    val surv = Dedup.survivors(docs, pairs.select(col("id1"), col("id2")))
    // contamination runs over the FULL corpus shingles (one more cache
    // read), not survivors: the superset is harmless — the left_anti below
    // can only remove docs that survived — and skipping the survivor
    // semi-join keeps this stage a single probe of the cached relation
    val contaminated = TextAnalysis
      .contaminationFromShingles(sh, bench, n, minShared)
      .select(col("doc_id")).distinct()
    val qualified = TextAnalysis.quality(surv)
      .filter(col("quality_score") >= minQuality)
    val fin = qualified.join(contaminated, Seq("doc_id"), "left_anti")
    (surv, qualified, fin)
  }

  /** Per-stage ATTRITION REPORT of the curation pipeline — the
    * observability row a data team reads before shipping a corpus: how
    * many documents each stage dropped and how many remain. Stage
    * relations are the SAME objects [[curate]] uses (one private builder),
    * so the report can never disagree with the pipeline. The four global
    * counts run as branches of ONE union job (not four sequential driver
    * round-trips); the drop arithmetic is a 4-row window on the driver's
    * side of the aggregation — nothing data-sized moves. Same cache
    * contract as [[curate]].
    */
  def report(docs: DataFrame, bench: DataFrame,
      minJaccard: Double = 0.5, minQuality: Double = 0.45,
      n: Int = 3, minShared: Int = 2): DataFrame = {
    val (surv, qualified, fin) = stageRelations(docs, bench, minJaccard,
      minQuality, n, minShared)
    def cnt(df: DataFrame, ord: Int, stage: String): DataFrame =
      df.groupBy().agg(count(lit(1)).as("n_remaining"))
        .select(lit(ord).as("ord"), lit(stage).as("stage"),
          col("n_remaining"))
    val counts = cnt(docs, 0, "input")
      .unionByName(cnt(surv, 1, "dedup"))
      .unionByName(cnt(qualified, 2, "quality"))
      .unionByName(cnt(fin, 3, "decontaminate"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("ord")
    counts
      .withColumn("n_dropped",
        coalesce(lag(col("n_remaining"), 1).over(w), col("n_remaining"))
          - col("n_remaining"))
      .select(col("stage"), col("n_dropped").cast("long").as("n_dropped"),
        col("n_remaining").cast("long").as("n_remaining"))
  }
}
