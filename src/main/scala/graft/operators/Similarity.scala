package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.md5Long

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, as a 100 TB pipeline needs both:
  *  - [[bruteForceTopK]]: exact cosine top-k of a (small, broadcast) query
  *    set against the full corpus — the correctness baseline. One scan, no
  *    shuffle on the corpus side; per-row work is a codegen'd fold over the
  *    vector.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus is bucketed by sign
  *    pattern once (cheap, deterministic planes derived from md5 so any
  *    engine can reproduce them), queries probe only their own bucket ring.
  *    Trades recall for a ~2^bits reduction in candidates.
  *
  * All vector math runs as codegen'd fold expressions
  * ([[graft.functions.DotFold]], [[graft.functions.L2Fold]]) with
  * deterministic ascending accumulation over `array<double>` — bit-equal
  * to the interpreted `aggregate`/`zip_with` folds they replaced, so
  * results are bit-reproducible across engines (the oracle relies on this).
  */
object Similarity {

  /** Fold-left dot product; deterministic order. Codegen'd
    * ([[graft.functions.DotFold]]) — bit-equal to the interpreted
    * `aggregate(zip_with(...))` fold it replaces.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotFold(a, b)

  /** Fold-left L2 norm: `x·x` then ascending sum — the same op sequence as
    * the previous single-array fold, through the codegen dot.
    */
  def l2Norm(a: Column): Column = sqrt(graft.functions.DotFold(a, a))

  /** Cosine similarity of two `array<double>` columns. Zero-norm vectors
    * yield null (not an ANSI divide-by-zero error); null ranks after every
    * real cosine under the descending orderings used here.
    */
  def cosine(a: Column, b: Column): Column =
    safeCos(dot(a, b), l2Norm(a) * l2Norm(b))

  /** `d / prod` with the division kept lazy behind a zero guard, so ANSI
    * mode cannot throw on degenerate (zero-norm) vectors.
    */
  private def safeCos(d: Column, prod: Column): Column =
    when(prod =!= 0.0, d / prod)

  /** Exact top-k cosine neighbors for each query vector (`queries` must be
    * small enough to broadcast). Excludes self-matches; ranks on the
    * ROUNDED cosine with id tie-break so ordering is engine-stable.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKScored(
      corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      queries.select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv")),
      k)

  /** Fan a compact relation out to the session's parallelism before a
    * pair-PRODUCING broadcast join: the |q|×n pair stage inherits the
    * stream side's partitioning, so a corpus that arrives in 1-2 file
    * splits would run the whole pair space on 1-2 cores (measured at the
    * g1 tier: the 20k-row/2-split encoded-codes relation put ann_pq's 8M
    * pairs on 2 of 32 cores — 14 s; fanned = 1.1 s). Only WIDENS: an
    * already-parallel corpus (the 100 TB case, thousands of splits)
    * passes through unshuffled, and the shuffle this inserts moves only
    * the compact pre-join relation. Gate outputs are rank-determined
    * (rounded score + id tie-breaks inside a keyed window), so row order
    * from round-robin repartitioning cannot change results.
    *
    * Size guard: below ~2 MiB of stream input the whole pair stage is
    * cheaper than the exchange it would insert (measured at sf0.1: the
    * unconditional fan cost ann_quantized +1.1 s on an 80k-pair stage
    * that runs in ~0.1 s single-task), so tiny relations pass through.
    * The stats estimate is plan-time only — no job runs.
    */
  private def fanOut(df: DataFrame): DataFrame =
    Scans.fanToParallelism(df, minBytes = 2L << 20)

  /** Shared scan-×-broadcast scoring/ranking core of [[bruteForceTopK]] and
    * [[quantizedTopK]]: `c` = (vec_id, v), `q` = (q_id, qv).
    */
  private def topKScored(c0: DataFrame, q0: DataFrame, k: Int): DataFrame = {
    val c = fanOut(c0).withColumn("nrm", l2Norm(col("v")))
    val q = q0.withColumn("qnrm", l2Norm(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(safeCos(dot(col("v"), col("qv")), col("nrm") * col("qnrm")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cos"), col("rk"))
  }

  /** Symmetric per-vector int8 quantization: `scale = max|x| / 127`,
    * `q_i = round(x_i / scale)` ∈ [-127, 127]. The embedding-storage scale
    * lever — 4× smaller than float32 (8× vs double) with ~0.1% cosine
    * error, which is what makes a 100 TB embedding corpus scannable; the
    * reconstruction is `q_i · scale`. Zero-vector rows quantize to zeros
    * with scale 0. Pure per-row expressions, no shuffle.
    */
  def quantizeInt8(emb: Column): Column = {
    // codegen max|x| fold (bit-equal to the interpreted greatest/abs
    // aggregate it replaced) — the per-row cost of the quantization scan
    val scale = graft.functions.MaxAbsFold(emb) / 127.0
    struct(
      when(scale === 0.0, transform(emb, _ => lit(0)))
        .otherwise(transform(emb, x => round(x / scale).cast("int")))
        .as("q"),
      scale.as("scale"))
  }

  /** Dequantized vector (`array<double>`) from [[quantizeInt8]]'s struct. */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"), q => q.cast("double") * qs.getField("scale"))

  /** Exact top-k cosine neighbors computed on int8-QUANTIZED vectors
    * (quantize → dequantize → [[bruteForceTopK]]'s scoring): the measurable
    * baseline for the compression/recall trade. Same output shape and
    * engine-stable ranking as the exact brute force.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def deq(df: DataFrame, idAs: String, vAs: String) = df.select(
      col("vec_id").as(idAs),
      dequantizeInt8(quantizeInt8(col("embedding").cast("array<double>")))
        .as(vAs))
    topKScored(deq(corpus, "vec_id", "v"), deq(queries, "q_id", "qv"), k)
  }

  /** Product-quantization top-k (Jégou et al. 2011): split the d-dim space
    * into `m` subspaces, k-means a codebook per subspace (the same
    * deterministic Lloyd as [[kMeans]] — seeds by smallest id, 6-dp
    * rounded means, min-id tie-breaks), encode each corpus vector as `m`
    * small codes, and answer queries by ASYMMETRIC distance: per query,
    * one `codebookK`-entry distance table per subspace, then a corpus scan
    * that SUMS `m` table lookups per row instead of `d` multiplies.
    *
    * This is the storage+compute scale lever for 100 TB ANN: the encoded
    * corpus is `m` bytes/vector (vs 4·d float32), and the scan cost drops
    * d/m-fold; production systems pair it with an IVF coarse quantizer
    * (IVF-PQ — compose with [[ivfTopK]]'s assignment) and train codebooks
    * on a sample rather than the full corpus. Ranking is on approximate
    * squared-L2 (ascending, 6-dp rounded, id tie-break) — engine-stable,
    * so the DuckDB oracle replays codebooks, codes, and ADC exactly.
    *
    * Plan shape: codebook training is JOINT across the `m` subspaces —
    * ONE seed job plus ONE corpus scan per Lloyd update trains every
    * codebook (each scan assigns all m subvectors and aggregates means
    * keyed by (subspace, cluster, position); collected rows are
    * m×k×(d/m) doubles, definitionally tiny). Per-subspace training ran
    * the same arithmetic as m independent lloyd() calls — m×iters jobs
    * each re-reading the full embedding column (measured ~11 s at sf0.1
    * for m=16; joint = 3 jobs, bit-identical centroids). Encode = ONE
    * row-local scan (codegen L2 folds against broadcast-literal
    * centroids); query = codes scan × broadcast distance tables. The
    * EMBEDDINGS are never shuffled and no pair space materializes; the
    * compact per-row CODES relation (m bytes/row) may be exchanged once
    * to session parallelism when the input arrived in fewer splits than
    * cores ([[fanOut]] — widen-only, so a many-split 100 TB corpus passes
    * through unshuffled).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 16,
      codebookK: Int = 16, iters: Int = 3, embDim: Int = 0): DataFrame = {
    val e = embView(corpus)
    val dim = embeddingDim(corpus, embDim)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val books: Seq[Seq[Seq[Double]]] = lloydJoint(e, m, sub, codebookK, iters)
    // encode/table steps are the fused PqCodes/PqTables expressions: the
    // composed slice+L2Fold form put m×k fold trees in one projection,
    // tripping Janino's 64 KB limit (interpreted fallback + multi-second
    // plan overhead — see PqOps.scala); arithmetic is bit-identical
    // fanOut sizes the pair stage to the session, not the file splits —
    // the shuffle payload is the m-int codes relation, the smallest thing
    // in the pipeline
    val codes = fanOut(e.select(col("vec_id"),
      graft.functions.PqCodes(col("v"), books).as("codes")))
    val q = embView(queries).select(col("vec_id").as("q_id"),
      graft.functions.PqTables(col("v"), books).as("dt"))
    val adist = (0 until m).map(i =>
      element_at(element_at(col("dt"), i + 1),
        element_at(col("codes"), i + 1) + 1)).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("adist"), col("vec_id"))
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adist", round(adist, 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("adist"),
        col("rk"))
  }

  /** PQ with the exact re-rank second stage (the rest of Jégou et al.
    * 2011, §5.3 "IVFADC with re-ranking"): the ADC scan produces a
    * `shortlist`-sized candidate set per query (cheap — m table lookups
    * per corpus row), then ONLY those candidates are re-scored against
    * the raw vectors with the exact cosine and re-ranked to top-k. Raw
    * ADC order is what [[pqTopK]] serves (recall@5 0.34 at m=16 on the
    * test corpus — faithful to the paper's first stage, but no production
    * ANN stops there); the shortlist→exact pass restores recall 0.94 at
    * shortlist=100 on the same corpus (EdgeCaseSpec pins ≥ 0.9) at
    * ~shortlist/n of brute-force SCORING cost — recall@k of the re-rank
    * is bounded by ADC recall@shortlist, so size the shortlist to where
    * that curve saturates (50 measured 0.82 here).
    *
    * Plan shape: stage 1 is [[pqTopK]]'s scan unchanged (same codebooks,
    * same ADC, `shortlist` instead of k); stage 2 joins the
    * |queries|·shortlist-row candidate set (broadcast — queries are
    * broadcast-sized by the ANN contract) against ONE more corpus scan
    * to fetch raw vectors, so the exact kernel runs on shortlist·|q| rows
    * instead of n·|q|. Output schema/ordering == [[bruteForceTopK]]
    * (rounded cosine desc, id tie-break) so the recall gauge and the
    * oracle compare directly.
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int = 50, m: Int = 16, codebookK: Int = 16, iters: Int = 3,
      embDim: Int = 0): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val sl = pqTopK(corpus, queries, shortlist, m, codebookK, iters, embDim)
      .select(col("q_id"), col("neighbor"))
    // raw-vector fetch: corpus scan × broadcast shortlist ids — only the
    // shortlisted rows survive into the exact kernel
    val cand = embView(corpus).join(broadcast(sl),
      col("vec_id") === col("neighbor"))
      .withColumn("nrm", l2Norm(col("v")))
    val q = embView(queries).select(col("vec_id").as("q_id"), col("v").as("qv"))
      .withColumn("qnrm", l2Norm(col("qv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("neighbor"))
    cand.join(broadcast(q), "q_id")
      .withColumn("cos",
        round(safeCos(dot(col("v"), col("qv")), col("nrm") * col("qnrm")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("neighbor"), col("cos"), col("rk"))
  }

  /** SEMANTIC decontamination: corpus vectors whose cosine against ANY
    * benchmark vector reaches `minCos` — the embedding-space twin of
    * [[TextAnalysis.contamination]] (n-gram overlap misses paraphrased
    * eval leakage; embedding similarity catches it). One corpus scan ×
    * broadcast benchmark (eval sets are small by definition), emitting one
    * row per contaminated (corpus, benchmark) pair with the rounded
    * cosine — same scan-×-broadcast shape as [[bruteForceTopK]], no
    * shuffle of the corpus.
    */
  def contaminationByEmbedding(corpus: DataFrame, bench: DataFrame,
      minCos: Double): DataFrame = {
    val c = fanOut(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v")))
      .withColumn("nrm", l2Norm(col("v")))
    val b = bench.select(col("vec_id").as("bench_id"),
      col("embedding").cast("array<double>").as("bv"))
      .withColumn("bnrm", l2Norm(col("bv")))
    c.crossJoin(broadcast(b))
      .withColumn("cos",
        round(safeCos(dot(col("v"), col("bv")), col("nrm") * col("bnrm")), 6))
      .filter(col("cos") >= minCos)
      .select(col("vec_id"), col("bench_id"), col("cos"))
  }

  /** Recall@k of approximate top-k results against the exact baseline: one
    * row per method — (method, hits, total, recall) where recall =
    * |approx ∩ exact| / |exact| over the whole query set. The quality gauge
    * the approximate paths (LSH probe rings, IVF lists, int8 quantization)
    * trade cost against; a recall regression is invisible to a
    * deterministic result check, so this is its own gated relation.
    *
    * Both inputs are (q_id, neighbor[, ...]) top-k relations — small
    * (|queries|·k rows), so the semi-joins broadcast; the exact side is
    * pinned once across the methods (CACHE CONTRACT: released via
    * `Caches.release`, see [[Caches]]).
    */
  def recallAtK(exact: DataFrame, approx: Seq[(String, DataFrame)]): DataFrame = {
    require(approx.nonEmpty, "recallAtK needs at least one approximate input")
    val ex = Caches.pin(exact.select(col("q_id"), col("neighbor")))
    val tot = ex.agg(count(lit(1)).as("total"))
    val hits = approx.map { case (m, df) =>
      df.select(col("q_id"), col("neighbor"))
        .join(broadcast(ex), Seq("q_id", "neighbor"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(m).as("method"), col("hits"))
    }.reduce(_ unionByName _)
    // 1-row scalar side: the cross join broadcasts, never a real cartesian
    hits.crossJoin(broadcast(tot))
      .select(col("method"), col("hits"), col("total"),
        round(col("hits").cast("double") / col("total"), 6).as("recall"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * md5-derived uniform in [-1, 1). Engine-portable, data-independent —
    * identical to `md5Long(concat_ws(":", "plane", b, d))` evaluated in SQL
    * (same bytes, same 15-hex-char prefix), but computed ONCE on the driver
    * instead of per corpus row × plane × dimension, which kept the old
    * signature expression interpreted and md5-bound (~49 s at sf0.1; now
    * the signature is a plain arithmetic fold over literal plane arrays).
    */
  private def planeComponent(plane: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane:$plane:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
      .toDouble / (1.1529215046068467e18 / 2.0) - 1.0
  }

  /** The `bits` × `dim` hyperplane matrix — pure function of its shape. */
  def planeMatrix(bits: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(bits, dim)(planeComponent)

  /** Johnson–Lindenstrauss RANDOM PROJECTION — dimensionality reduction
    * for the embedding corpus: each vector maps to `outDim` coordinates
    * `p_j = (m_j · v) / √outDim` through the same deterministic md5-derived
    * matrix the LSH planes use ([[planeMatrix]] — uniform in [-1, 1),
    * which satisfies the JL sub-gaussian condition). Distances are
    * preserved within (1 ± ε) for ε ≈ √(8·ln n / outDim) — the standard
    * lever that turns a 64-float embedding scan into a 16-float one (4×
    * less I/O and compute per distance) before the exact re-rank. The
    * scale is √(outDim·Var) = √(outDim/3) — uniform [-1, 1) entries have
    * variance 1/3, and the variance correction is what makes projected
    * NORMS (not just angles) unbiased: measured median pairwise-distance
    * distortion on the test corpus is 11.6% at 64→16, 7.9% at 64→32.
    *
    * Scale design: the matrix is outDim×dim DRIVER-SIDE LITERALS (a few
    * KB) baked into the plan — no join, no broadcast variable, and the
    * projection is one codegen'd [[dot]] fold per output coordinate in a
    * single corpus scan: linear, shuffle-free, streaming-safe (row-local).
    * Components are rounded to 6 dp so any engine replays them exactly.
    */
  def projectVectors(corpus: DataFrame, outDim: Int = 16,
      dim: Int = 0): DataFrame = {
    val m = planeMatrix(outDim, embeddingDim(corpus, dim))
    val scale = rpScale(outDim)
    val v = col("embedding").cast("array<double>")
    corpus.select(col("vec_id"),
      array(m.map(row => round(dot(v, typedlit(row.toSeq)) / scale, 6)): _*)
        .as("proj"))
  }

  /** The norm-unbiasing scale √(outDim/3) — exposed so the oracle embeds
    * the identical IEEE double.
    */
  def rpScale(outDim: Int): Double = math.sqrt(outDim / 3.0)

  /** [[projectVectors]] in long form — one row per (vec_id, out_dim) — the
    * oracle-comparable shape (a DuckDB replay computes the identical dot
    * through the same literal matrix).
    */
  def randomProjection(corpus: DataFrame, outDim: Int = 16,
      dim: Int = 0): DataFrame =
    projectVectors(corpus, outDim, dim)
      // posexplode_OUTER, deliberately: plain posexplode makes Catalyst push
      // a `size(proj) > 0` guard below the Generate, and after projection
      // collapse that guard re-evaluates the entire outDim×dim dot-fold
      // array per row in a second (giant) codegen tree — measured 4× the
      // whole gate (1.4 s → 0.33 s at sf0.1). `proj` is an array literal-
      // shaped expression: never null, never empty, elements never null —
      // so outer emits exactly the same rows with no guard.
      .select(col("vec_id"), posexplode_outer(col("proj")).as(Seq("j", "p")))
      .select(col("vec_id"), col("j").cast("long").as("j"), col("p"))

  /** Random-hyperplane LSH signature: `bits` sign bits of plane·v, packed
    * into a long. Buckets near-parallel vectors together.
    */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      // plane·v through the codegen dot fold — op-identical (multiply per
      // element, ascending sum) to the interpreted zip_with it replaced,
      // so signatures (and every LSH bucket) are bit-stable
      val proj = dot(v, typedlit(p.toSeq))
      when(proj > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)

  /** Approximate top-k: corpus bucketed by LSH signature; each query probes
    * its Hamming-≤`probeHamming` signature RING via multi-probe — the ring
    * is enumerated as data-independent flip masks (Σ C(bits,h) of them — 79
    * at bits=12, h=2) exploded per query, so the candidate join is a hash
    * EQUI-join on the signature. The previous formulation joined on
    * `bit_count(sigc ^ sigq) <= h`, a broadcast nested loop that tested
    * every corpus row against every query — LSH bucketed nothing and work
    * grew as |corpus|·|queries|; multi-probe restores the ~2^bits/|ring|
    * candidate reduction and scales in the probe-ring hits only.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 12, probeHamming: Int = 2, dim: Int = 0): DataFrame = {
    val planes = planeMatrix(bits, embeddingDim(corpus, dim))
    val c = corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .withColumn("sigc", lshSignature(col("v"), planes))
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
      .withColumn("qnrm", l2Norm(col("qv")))
      .withColumn("sigq", lshSignature(col("qv"), planes))
    // all XOR masks with ≤ probeHamming set bits (driver-side combinatorics,
    // pure function of the shape); distinct masks → distinct probe sigs per
    // query, so no candidate dedup is needed
    val masks: Seq[Long] = (0 to probeHamming).flatMap(h =>
      (0 until bits).combinations(h)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
    val probes = q
      .select(col("*"), explode(typedlit(masks)).as("__mask"))
      .withColumn("__probe", col("sigq").bitwiseXOR(col("__mask")))
      .drop("sigq", "__mask")
    val cand = c.join(broadcast(probes),
      col("sigc") === col("__probe") && col("vec_id") =!= col("q_id"))
    val scored = cand.withColumn("cos",
      round(safeCos(dot(col("v"), col("qv")), col("nrm") * col("qnrm")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cos"), col("rk"))
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path: the corpus is assigned ONCE to its nearest coarse centroid (one
    * broadcast pass, no shuffle of the corpus), and each query probes only
    * the `nprobe` nearest centroids' inverted lists, cutting scored
    * candidates by ~|centroids|/nprobe.
    *
    * Centroids are a deterministic corpus sample (`vec_id % centroidEvery`)
    * rather than trained k-means: engine-portable (the DuckDB oracle rebuilds
    * the identical index) and dependency-free; swap in trained centroids for
    * better recall without touching the plan shape. All rankings order on the
    * ROUNDED cosine with id tie-breaks, so bucket contents are engine-stable.
    *
    * Sizing at scale (measured, BASELINE.md g-tier ANN study): at a FIXED
    * stride both the centroid count and the assignment cost grow linearly
    * with the corpus while the probed fraction at fixed `nprobe` shrinks,
    * so recall decays — at 10× the gate corpus, matching the sf0.1 recall
    * took nprobe 2→8 (i.e. scale nprobe with |centroids| to hold a roughly
    * constant probed-candidate budget). `centroidEvery = 0` auto-sizes to
    * ncentroids ≈ √n, the one-shot cost optimum (assignment O(n^1.5)) —
    * that configuration (with nprobe=8) is oracle-gated as ann_ivf_auto,
    * and is the default a large-corpus deployment should choose; the
    * fixed-stride default here stays only as the historical parity gate;
    * finer-than-√n quantization buys more recall per scored candidate and
    * is the right trade when the assignment is amortized across many query
    * batches via a persisted index.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 40, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    val cents = coarseCentroids(corpus, centroidEvery, centroids)
    ivfProbe(ivfAssign(corpus, cents), queries, k, cents, nprobe)
  }

  private def ivfNearest(cents: DataFrame)(df: DataFrame, idCol: String,
      vCol: String, nrmCol: String, take: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(safeCos(dot(col(vCol), col("cv")), col(nrmCol) * col("cnrm")), 6))
    if (take == 1)
      // corpus assignment: max_by aggregates the |rows|×|centroids| score
      // space with a map-side partial (the broadcast join leaves each
      // row's scores co-located), so only |rows| rows shuffle — the
      // row_number window this replaces exchanged and sorted the FULL
      // score space, which at linear centroid growth is quadratic in the
      // corpus. Ordering identical to orderBy(ccos DESC, c_id ASC):
      // max of (ccos, -c_id) with c_id >= 0.
      scored.groupBy(idCol)
        .agg(max_by(
          struct(col("c_id"), col(vCol), col(nrmCol)),
          struct(col("ccos"), negate(col("c_id")))).as("__top"))
        .select(col(idCol), col("__top.c_id").as("c_id"),
          col(s"__top.$vCol").as(vCol), col(s"__top.$nrmCol").as(nrmCol))
    else {
      // query probes: |queries| is broadcast-small by contract, so the
      // top-nprobe window's exchange is negligible
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("ccos").desc, col("c_id"))
      scored.withColumn("crn", row_number().over(w))
        .filter(col("crn") <= take)
        .drop("cv", "cnrm", "ccos", "crn")
    }
  }

  /** The assignment half of [[ivfTopK]] — `(vec_id, c_id, v, nrm)` per
    * corpus row, each vector priced against the broadcast quantizer
    * EXACTLY once. Row-local given the centroids, which is what lets a
    * streaming ingest ([[graft.streaming.StreamingAnnIngest]]) run it per
    * arrival batch and append to a persisted inverted-list index.
    */
  private[graft] def ivfAssign(corpus: DataFrame, cents: DataFrame): DataFrame =
    ivfNearest(cents)(
      corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("nrm", l2Norm(col("v"))),
      "vec_id", "v", "nrm", take = 1)

  /** The probe half of [[ivfTopK]] over a prebuilt assignment relation —
    * batch and streaming share it verbatim, so their results are equal by
    * construction whenever the assigned sets are.
    */
  private[graft] def ivfProbe(assigned: DataFrame, queries: DataFrame,
      k: Int, cents: DataFrame, nprobe: Int): DataFrame = {
    val probes = ivfNearest(cents)(
      queries.select(col("vec_id").as("q_id"),
          col("embedding").cast("array<double>").as("qv"))
        .withColumn("qnrm", l2Norm(col("qv"))),
      "q_id", "qv", "qnrm", take = nprobe)
    val scored = assigned.join(broadcast(probes), "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(safeCos(dot(col("v"), col("qv")), col("nrm") * col("qnrm")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cos"), col("rk"))
  }

  /** The coarse quantizer as a standalone relation — see
    * [[coarseCentroids]]; exposed for the streaming ingest, which must
    * hold it FIXED across epochs (production trains the quantizer offline
    * and streams vectors into its lists).
    */
  private[graft] def ivfCentroids(corpus: DataFrame,
      centroidEvery: Int = 40,
      centroids: Option[DataFrame] = None): DataFrame =
    coarseCentroids(corpus, centroidEvery, centroids)

  /** Coarse quantizer shared by [[ivfTopK]] and [[ivfSelfTopK]]: trained
    * centroids `(cluster, centroid)` if provided — e.g. [[kMeansCentroids]]
    * — else a deterministic corpus sample. `centroidEvery` controls list
    * count; note a FIXED stride grows centroids linearly with the corpus,
    * which (a) makes the broadcast assignment pass O(n²/stride) compute and
    * (b) shrinks the probed fraction at fixed nprobe, so recall decays as
    * the corpus grows (measured in BASELINE.md's g-tier study). Pass
    * `centroidEvery = 0` to auto-size the stride to the classic
    * ncentroids ≈ √n (one cheap count; assignment becomes O(n^1.5), and
    * nprobe can then scale as a fraction of √n) — still deterministic
    * given the corpus, so an oracle can rebuild the identical index.
    */
  private def coarseCentroids(corpus: DataFrame, centroidEvery: Int,
      centroids: Option[DataFrame]): DataFrame = {
    require(centroidEvery >= 0,
      s"centroidEvery must be >= 0 (0 = auto ~ sqrt(n)), got $centroidEvery")
    lazy val every =
      if (centroidEvery > 0) centroidEvery.toLong
      else math.max(1L, math.round(math.sqrt(corpus.count().toDouble)))
    centroids
      .map(_.select(col("cluster").cast("bigint").as("c_id"),
        col("centroid").cast("array<double>").as("cv")))
      .getOrElse(corpus.filter(col("vec_id") % every === 0)
        .select(col("vec_id").as("c_id"),
          col("embedding").cast("array<double>").as("cv")))
      .withColumn("cnrm", l2Norm(col("cv")))
  }

  /** Corpus-vs-corpus approximate nearest neighbors: top-`k` neighbors for
    * EVERY vector among vectors sharing its IVF inverted list — the actual
    * curation shape at 100 TB ("nearest neighbor for each document"), where
    * no broadcastable query set exists. The corpus is assigned once to its
    * nearest coarse centroid (broadcast pass, as [[ivfTopK]]), then the pair
    * space is a self-equi-join on the list id — quadratic only within a
    * list, never across the corpus. Same deterministic centroid scheme and
    * rounded-cosine orderings as [[ivfTopK]], so the oracle can rebuild the
    * identical index; pass trained `centroids` ([[kMeansCentroids]]) for
    * better recall. Neighbors missed across list boundaries are the standard
    * IVF recall trade; raise `centroidEvery` (fewer, larger lists) or run
    * multi-assignment to trade cost for recall.
    *
    * Skew guard (`maxList`): one hot inverted list — a dense embedding
    * cluster, the common case in near-dup-heavy corpora — would otherwise
    * serialize O(list²) cosines on a single task. Lists larger than
    * `maxList` are split into S = ⌈|list|/maxList⌉ sub-blocks by vec_id
    * hash and the pair space becomes the triangular (sub-lo, sub-hi) cell
    * fan-out of [[Dedup.embeddingNearDup]]: each unordered pair meets in
    * exactly one cell, its cosine is computed ONCE, and both directed rows
    * are emitted before the per-vector top-k — output identical to the
    * unguarded self-join while no task owns more than ~maxList²
    * comparisons. Lists at or under `maxList` get S = 1: a single cell, no
    * replication.
    */
  def ivfSelfTopK(corpus: DataFrame, k: Int = 1,
      centroidEvery: Int = 40,
      centroids: Option[DataFrame] = None,
      maxList: Int = 10000): DataFrame = {
    val cents = coarseCentroids(corpus, centroidEvery, centroids)
    // same max_by assignment as ivfTopK's take=1 path: partial-aggregated
    // map-side, so the |corpus|×|centroids| score space never shuffles
    val assigned = corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        round(safeCos(dot(col("v"), col("cv")), col("nrm") * col("cnrm")), 6))
      .groupBy("vec_id")
      .agg(max_by(struct(col("c_id"), col("v"), col("nrm")),
        struct(col("ccos"), negate(col("c_id")))).as("__top"))
      .select(col("__top.c_id").as("c_id"), col("vec_id"),
        col("__top.v").as("v"), col("__top.nrm").as("nrm"))
    // per-list size → sub-block count S and this row's hash sub-block; the
    // size join is one broadcast of |lists| rows
    val sizes = assigned.groupBy("c_id").agg(count(lit(1)).as("__ln"))
    val withSub = assigned
      .join(broadcast(sizes), "c_id")
      .withColumn("__s",
        greatest(lit(1L), ceil(col("__ln").cast("double") / maxList)).cast("int"))
      .withColumn("__sub", pmod(hash(col("vec_id")), col("__s")))
    // CACHE CONTRACT (as Correlations.correlate): pin the assigned
    // relation so the self-join doesn't run the centroid-assignment pass per
    // side; the pin is owned by Caches — callers call Caches.release(spark)
    // when done
    val a0 = Caches.pin(withSub)
    // triangular cell fan-out (see Dedup.embeddingNearDup): a-side replicates
    // up (__hi ∈ [__sub, S)), b-side replicates down (__lo ∈ [0, __sub]);
    // pair {x, y} meets only in cell (min(sx,sy), max(sx,sy)), the diagonal
    // cell dedups on vec_id order — each unordered pair scored exactly once
    val aSide = a0.withColumn("__hi", explode(sequence(col("__sub"), col("__s") - 1)))
    val bSide = a0.withColumn("__lo", explode(sequence(lit(0), col("__sub"))))
    val pairs = aSide.as("a")
      .join(bSide.as("b"),
        col("a.c_id") === col("b.c_id") &&
          col("a.__sub") === col("b.__lo") && col("a.__hi") === col("b.__sub") &&
          (col("a.__sub") < col("b.__sub") || col("a.vec_id") < col("b.vec_id")))
      .select(col("a.vec_id").as("x"), col("b.vec_id").as("y"),
        round(safeCos(dot(col("a.v"), col("b.v")),
          col("a.nrm") * col("b.nrm")), 6).as("cos"))
    // both directed rows from the one undirected score
    val scored = pairs
      .select(explode(array(
        struct(col("x").as("vec_id"), col("y").as("neighbor"), col("cos")),
        struct(col("y").as("vec_id"), col("x").as("neighbor"), col("cos")))).as("p"))
      .select(col("p.vec_id"), col("p.neighbor"), col("p.cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("cos"), col("rk"))
  }

  /** Distributed kNN-graph construction via NN-Descent (Dong et al.,
    * WWW '11 — the standard shared-nothing graph-ANN build, the batch
    * counterpart of in-memory graph indexes like HNSW): seed each vector
    * with its cohorts from TWO independent md5-hash-bucket partitions
    * (interlocking cliques ⇒ a connected, expander-like random seed — one
    * partition alone is a disjoint clique union that rounds can never
    * escape), then for `iters` rounds rank every vector's
    * neighbors-of-neighbors over the UNDIRECTED current graph and keep the
    * top `k`. "A good neighbor of a good neighbor is likely a good
    * neighbor" — each round roughly squares the explored radius.
    *
    * Everything is deterministic and fixed-depth — md5-derived buckets
    * (engine-portable, as the LSH planes), 6-dp rounded cosines, id
    * tie-breaks, a FIXED round count — so the whole build unrolls to a
    * relational pipeline an oracle can replay exactly.
    *
    * Scale shape: every step is an equi-join — within-bucket seed pairs
    * (bucket size is a small constant), adjacency⋈adjacency candidates
    * (≤ n·(2k)² rows per round), two embedding lookups to score — linear
    * in the corpus at fixed k, never all-pairs. Each round's graph is
    * pinned ([[Caches]]) so lineage doesn't re-derive round r−1 once per
    * reference. Production NN-Descent adds candidate sampling (ρ < 1) and
    * convergence-based termination; this build keeps the fixed-depth form
    * for reproducibility. Isolated vectors (singleton seed buckets that no
    * reverse edge reaches) can be absent from the output — at any real
    * corpus/bucket ratio buckets hold ≥ 2 vectors.
    *
    * `seedBuckets` pins the bucket COUNT (data-independent — what a gate
    * wants); pass 0 to auto-size to ~`seedBucketSize` vectors per bucket
    * (one cheap count, the [[ivfTopK]] auto-stride pattern).
    *
    * `maxReverse` caps each vector's REVERSE adjacency (best `maxReverse`
    * in-edges by cosine) before the neighbor-of-neighbor join — the
    * deterministic form of sampled NN-Descent's reverse-neighbor sample.
    * Without it a hub vector with in-degree h (rank graphs on
    * weakly-structured data grow hubs) contributes h² candidate pairs:
    * measured 12× slower per extra round before the cap, bounded
    * n·(k+maxReverse)² per round after it — the cap is what makes the
    * round cost linear in the corpus REGARDLESS of graph skew.
    */
  def nnDescent(corpus: DataFrame, k: Int = 5, iters: Int = 2,
      seedBuckets: Int = 100, seedBucketSize: Int = 20,
      maxReverse: Int = 10): DataFrame = {
    require(k >= 1 && iters >= 0 && seedBuckets >= 0 && seedBucketSize >= 1
        && maxReverse >= 1,
      s"need k/bucketSize/maxReverse >= 1, iters/seedBuckets >= 0; " +
        s"got k=$k iters=$iters seedBuckets=$seedBuckets " +
        s"seedBucketSize=$seedBucketSize maxReverse=$maxReverse")
    val e = embView(corpus).withColumn("nrm", l2Norm(col("v")))
    val buckets =
      if (seedBuckets > 0) seedBuckets.toLong
      else math.max(1L, (corpus.count() + seedBucketSize - 1) / seedBucketSize)
    def rankTopK(cand: DataFrame): DataFrame = {
      // ONE exchange for dedup + scoring + ranking (guide §2.4, "two
      // operations keyed the same way share one exchange"): hash-partition
      // the raw candidates by vec_id FIRST — the (vec_id, neighbor)
      // distinct's ClusteredDistribution is satisfied by the vec_id
      // partitioning (grouping-key subset), the scoring joins broadcast
      // (stream side keeps its layout), and the top-k window requires
      // exactly this partitioning. The previous shape (caller-side
      // distinct, then window) exchanged twice per round: once on
      // (vec_id, neighbor) for the dedup, once on vec_id for the rank.
      val dedup = cand.repartition(col("vec_id")).distinct()
      val scored = dedup
        .join(e, "vec_id")
        .join(e.select(col("vec_id").as("neighbor"), col("v").as("nv"),
          col("nrm").as("nnrm")), "neighbor")
        .withColumn("cos",
          round(safeCos(dot(col("v"), col("nv")), col("nrm") * col("nnrm")), 6))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select("vec_id", "neighbor", "cos", "rk")
    }
    // TWO independent hash partitions, unioned: one partition alone seeds a
    // DISJOINT union of bucket-cliques, and n-of-n exploration can never
    // leave a connected component — the graph would converge to per-bucket
    // local optima (measured: recall stuck at the seed's value). Cliques
    // from independent partitions interlock, so the seed is connected
    // (expander-like) and rounds traverse the whole corpus.
    val seedTables = corpus.sparkSession.range(2)
      .select(col("id").cast("int").as("t"))
    val bk = e.select(col("vec_id"))
      .crossJoin(broadcast(seedTables))
      .select(col("vec_id"), col("t"),
        pmod(md5Long(concat(lit("seed:"), col("t").cast("string"), lit(":"),
          col("vec_id").cast("string"))), lit(buckets)).as("bk"))
    val bkB = bk.select(col("t").as("__t"), col("bk").as("__bk"),
      col("vec_id").as("__nb"))
    val seedCand = bk
      .join(bkB, col("t") === col("__t") && col("bk") === col("__bk")
        && col("vec_id") =!= col("__nb"))
      .select(col("vec_id"), col("__nb").as("neighbor"))
    var g = rankTopK(seedCand)   // rankTopK dedups under its own exchange
    for (_ <- 1 to iters) {
      val gp = Caches.pin(g)
      val wRev = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("cos").desc, col("neighbor"))
      val rev = gp.select(col("neighbor").as("vec_id"),
          col("vec_id").as("neighbor"), col("cos"))
        .withColumn("rrk", row_number().over(wRev))
        .filter(col("rrk") <= maxReverse)
      val und = gp.select(col("vec_id"), col("neighbor"))
        .unionByName(rev.select(col("vec_id"), col("neighbor")))
      // n-of-n via a column-RENAMED copy, not `.as` aliases: an aliased
      // self-join of this union-of-projections resolves both sides to the
      // a-side attributes (same underlying attribute ids) and silently
      // projects (vec_id, neighbor) instead of (vec_id, b.neighbor) —
      // distinct names make resolution unambiguous by construction
      val undB = und.select(col("vec_id").as("__mid"),
        col("neighbor").as("__nn"))
      val nn = und.join(undB, col("neighbor") === col("__mid"))
        .select(col("vec_id"), col("__nn").as("neighbor"))
      g = rankTopK(und.unionByName(nn)
        .filter(col("vec_id") =!= col("neighbor")))
    }
    g
  }

  /** Deterministic Lloyd's k-means over the embedding column — the trainer
    * for [[ivfTopK]]'s coarse quantizer (its Scaladoc promises "swap in
    * trained centroids"), and the standard corpus-clustering step in
    * training-data curation (cluster-then-sample, per-cluster dedup).
    *
    * Design for scale: centroids are k×d doubles — definitionally tiny — so
    * they live on the driver and enter the plan as broadcast literals; each
    * iteration is ONE corpus scan (codegen distance fold, no shuffle) plus
    * one k×d-sized aggregation (posexplode → partial avgs map-side). The
    * corpus is never shuffled and no pair space ever materializes.
    *
    * Everything that could diverge across engines or runs is pinned:
    * seeds = the k smallest-id vectors; assignment ties → smallest cluster
    * id; centroid means rounded to 6 decimals each iteration (summation
    * order across rows is nondeterministic — rounding re-synchronizes).
    */
  def kMeans(corpus: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val e = embView(corpus)
    e.withColumn("cluster", assignExpr(lloyd(e, k, iters)))
      .select("vec_id", "cluster")
  }

  /** Two-stage ANN query over a kNN graph ([[nnDescent]]'s output) —
    * coarse entry + greedy beam refinement, the batch analog of modern
    * graph-ANN query paths (HNSW upper layers / ScaNN's partition stage
    * play the same "land near the query cheaply" role). A FLAT kNN graph
    * deliberately has no long-range edges, so a walk from fixed global
    * entries needs O(graph diameter) hops (measured on the clustered
    * EdgeCaseSpec fixture: recall@5 crawls 0.24 → 0.58 from hops 3 → 6);
    * strided coarse entry puts the frontier inside the query's
    * neighborhood and the same 3 hops finish the job (recall 1.0).
    *
    * Stage 1: score each query against the deterministic 1-in-
    * `entryStride` corpus sample (`vec_id % entryStride = 0` — at scale,
    * stride ~√n makes this the classic √n coarse scan) and seed the
    * frontier with the best `beam`.
    *
    * Stage 2, per hop: the frontier expands through the UNDIRECTED edge
    * set (a directed kNN graph forms out-edge cliques a greedy walk
    * cannot escape — the reason HNSW/NSG search backlinked structures),
    * newly reached nodes are scored, and the union re-ranks down to
    * `beam`. The frontier is monotone, so hops only improve it. Final
    * answer: top `k` of the last frontier.
    *
    * Everything is deterministic — strided entries, 6-dp rounded cosines,
    * id tie-breaks, fixed hop count — so the DuckDB oracle replays the
    * search exactly on top of its graph replay.
    *
    * Scale shape: stage 1 is one |Q|·(n/stride) broadcast-scored scan;
    * per hop ONE equi-join of the |Q|·beam frontier against the ≤2·n·k
    * edge relation (shuffle on vec_id), one scoring join against the
    * embedding relation, one |Q|-keyed top-beam window — linear in |Q|
    * and graph size, independent of corpus pair space. At 100 TB the
    * edge+embedding relations would be bucketed on vec_id so the
    * expansion join is exchange-free; queries ride along as a broadcast.
    *
    * Like [[Dedup.components]], every hop eagerly `localCheckpoint`s the
    * new frontier (and the adjacency once): the hop plan otherwise embeds
    * the previous hop's join+union+window AND the whole graph-build lineage
    * once per reference, compounding the analyzed tree with hop count.
    */
  def graphSearch(corpus: DataFrame, queries: DataFrame, graph: DataFrame,
      k: Int = 5, beam: Int = 10, hops: Int = 3,
      entryStride: Int = 10): DataFrame = {
    require(k >= 1 && beam >= k && hops >= 0 && entryStride >= 1,
      s"need 1 <= k <= beam, hops >= 0, entryStride >= 1; " +
        s"got k=$k beam=$beam hops=$hops entryStride=$entryStride")
    val e = embView(corpus).withColumn("nrm", l2Norm(col("v")))
    val q = embView(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .withColumn("qnrm", l2Norm(col("qv")))
    def score(cand: DataFrame): DataFrame = cand
      .join(e, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("cos",
        round(safeCos(dot(col("v"), col("qv")), col("nrm") * col("qnrm")), 6))
      .select(col("qid"), col("vec_id"), col("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    def topN(scored: DataFrame, n: Int): DataFrame = scored
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= n)
    val entry = e.select(col("vec_id"))
      .filter(col("vec_id") % entryStride === 0)
    var f = topN(score(q.select(col("qid")).crossJoin(entry)), beam)
      .select(col("qid"), col("vec_id"), col("cos")).localCheckpoint()
    val adj = graph.select(col("vec_id"), col("neighbor"))
      .unionByName(graph.select(col("neighbor").as("vec_id"),
        col("vec_id").as("neighbor")))
      .distinct().localCheckpoint()
    for (_ <- 1 to hops) {
      val cand = f.select(col("qid"), col("vec_id"))
        .join(adj, "vec_id")
        .select(col("qid"), col("neighbor").as("vec_id")).distinct()
      val prev = f
      f = topN(f.unionByName(score(cand)).distinct(), beam)
        .select(col("qid"), col("vec_id"), col("cos")).localCheckpoint()
      // two frontier copies live, not O(hops) — RDD-level release (Dataset
      // .unpersist no-ops on checkpoint pins)
      org.apache.spark.sql.graftshim.CheckpointBridge.unpersistCheckpoint(prev)
    }
    // the returned plan references only the final (materialized) frontier,
    // so the adjacency checkpoint is dead here
    org.apache.spark.sql.graftshim.CheckpointBridge.unpersistCheckpoint(adj)
    // id-equal rows are navigation anchors in the frontier but excluded
    // from the answer, mirroring bruteForceTopK's `vec_id =!= q_id` — so
    // recallAtK comparisons see the same exclusion on both sides
    topN(f.filter(col("vec_id") =!= col("qid")), k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rk"))
  }

  /** The trained centroids themselves, as (cluster, centroid) — feed to
    * [[ivfTopK]]'s `centroids` parameter.
    */
  def kMeansCentroids(corpus: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val e = embView(corpus)
    val spark = corpus.sparkSession
    import spark.implicits._
    lloyd(e, k, iters).zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cluster", "centroid")
  }

  private def embView(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Embedding width: the caller-supplied `dim` when positive, else probed
    * from one corpus row. Spark's array type carries no length, so without
    * a parameter the width costs a 1-row driver JOB per operator build
    * (scheduling + a parquet footer + row-group read — ~0.3 s each, and it
    * was the only job `projectVectors` ran besides its real scan). Any
    * production pipeline knows its embedding width a priori — pass it.
    */
  private def embeddingDim(corpus: DataFrame, dim: Int): Int =
    if (dim > 0) dim
    else corpus.select(size(col("embedding")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)

  private def assignExpr(cents: Seq[Seq[Double]]): Column = {
    // codegen'd squared-L2 fold (bit-equal to the interpreted
    // aggregate(zip_with(...)) it replaced — Lloyd's argmin tie-breaks and
    // the cross-engine oracle depend on those bits); evaluated k times per
    // corpus row per pass, the dominant k-means cost at scale
    val dists = array(cents.map { c =>
      graft.functions.L2Fold(col("v"), typedLit(c))
    }: _*)
    // first index of the min distance = smallest cluster id on ties
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Joint Lloyd over `m` contiguous `sub`-dim subspaces of `v`: trains all
    * m codebooks with ONE seed job plus ONE corpus scan per update round,
    * bit-identical to running [[lloyd]] on each subspace slice independently
    * (same smallest-id seeds, same codegen L2 argmin with smallest-cluster
    * tie-break, same 6-dp rounded per-(cluster, position) means, empty
    * clusters keep their previous centroid). The per-subspace form ran
    * m×iters jobs that each re-read the FULL embedding column (slicing
    * happens after the scan) — at PQ's m=16 that was 48 corpus scans for
    * arithmetic one scan per round can do; at 100 TB the scans, not the
    * m×k×sub-double collects, are the whole training cost.
    */
  private[graft] def lloydJoint(e: DataFrame, m: Int, sub: Int, k: Int,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && sub >= 1 && k >= 1 && iters >= 1,
      s"need m, sub, k, iters >= 1; got m=$m sub=$sub k=$k iters=$iters")
    val seedRows = e.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map { i =>
      seedRows.map(v => v.slice(i * sub, (i + 1) * sub))
    }
    val subIdx = (col("pos") / sub).cast("int")
    for (_ <- 1 until iters) {
      // all-subspace argmin via the fused PqCodes expression — bit-equal
      // to the per-subspace slice+L2Fold argmin (see PqOps.scala), without
      // the m×k fold trees that trip Janino's 64 KB method limit
      val means = e
        .select(col("v"),
          graft.functions.PqCodes(col("v"), books).as("cs"))
        .select(col("cs"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(subIdx.as("s"),
          element_at(col("cs"), subIdx + 1).as("cluster"),
          pmod(col("pos"), lit(sub)).as("spos"))
        .agg(round(avg("x"), 6).as("m"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      val bySub = means.groupBy(_._1)
      books = (0 until m).map { i =>
        val byCluster =
          bySub.getOrElse(i, Array.empty[(Int, Int, Int, Double)])
            .groupBy(_._2)
        books(i).indices.map(cid => byCluster.get(cid) match {
          case Some(rows) => rows.sortBy(_._3).map(_._4).toSeq
          case None => books(i)(cid)
        })
      }
    }
    books
  }

  /** `iters - 1` Lloyd updates from the smallest-id seeds (the final
    * assignment pass is the caller's).
    */
  private def lloyd(e: DataFrame, k: Int, iters: Int): Seq[Seq[Double]] = {
    require(k >= 1 && iters >= 1, s"need k >= 1, iters >= 1; got k=$k iters=$iters")
    var cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(k)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    for (_ <- 1 until iters) {
      val means = e.withColumn("cluster", assignExpr(cents))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(round(avg("x"), 6).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCluster = means.groupBy(_._1)
      // empty clusters keep their previous centroid
      cents = cents.indices.map(cid => byCluster.get(cid) match {
        case Some(rows) => rows.sortBy(_._2).map(_._3).toSeq
        case None => cents(cid)
      })
    }
    cents
  }
}
