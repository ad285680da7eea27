package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.TextAnalysis.{md5Long, shingles, tokens, P}

/** Deduplication operators for LLM training-data pipelines, each designed to
  * avoid the all-pairs O(n²) comparison at 100 TB:
  *
  *  - [[exact]]: hash group-by — one shuffle on the dedup key.
  *  - [[ngramJaccard]]: inverted-index join on shared shingles (only pairs
  *    sharing ≥1 shingle are ever materialized), then exact Jaccard.
  *  - [[minHashLsh]]: MinHash signatures + banded LSH — candidate pairs come
  *    from tiny band-bucket joins; exact Jaccard verifies candidates.
  *  - [[simHash]]: 60-bit SimHash + chunk-banded Hamming join.
  *  - [[embeddingNearDup]]: cosine near-dup with a blocking key.
  *
  * All hashing is the engine-portable md5→bigint family from
  * [[TextAnalysis]], so the DuckDB oracle reproduces signatures bit-for-bit.
  *
  * CACHE CONTRACT: operators that read a shingle / band / norm relation
  * ≥2× (self-joins) pin it through [[Caches]]; call `Caches.release(spark)`
  * once the results are consumed — caller-owned caches are never touched.
  */
object Dedup {

  /** Exact dedup: group rows by `keys`, keep the earliest row per group
    * (min of `orderCol`), count copies. One hash-shuffle with map-side
    * partial aggregation; at 100 TB this is the cheapest possible dedup.
    */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(min(col(orderCol)).as(s"first_$orderCol"),
        count(lit(1)).as("n_copies"))

  /** Fan a compact document scan out to session parallelism before the
    * shingle explode. The driver testdata parquet is ONE row group per
    * table, so the scan stage — which carries the shingle build AND the
    * per-shingle md5 of everything downstream's shuffle-map side — runs on
    * one core regardless of file-split configs. Shingling multiplies row
    * volume ~two orders of magnitude and hashes every shingle, so compute
    * per input byte is enormous while the exchange this inserts moves only
    * the raw text (the documents table is KBs–MBs per split by
    * construction); measured at sf0.1: dedup_ngram 4.4→3.8 s warm,
    * minHashLsh 2.0→1.3 s warm, larger cold. Only WIDENS — a corpus
    * already at session parallelism (the 100 TB case) passes through.
    */
  private[operators] def fanScan(df: DataFrame): DataFrame =
    Scans.fanToParallelism(df)

  /** Distinct word-n-gram shingle rows: (id, shingle). The inverted index
    * backing both Jaccard and MinHash. `fan = false` skips the scan
    * fan-out ([[fanScan]]) — the streaming twins pass it because a
    * micro-batch slice is epochs-tiny and the per-epoch exchange would
    * cost more than single-task shingling saves.
    */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int,
      fan: Boolean = true): DataFrame =
    (if (fan) fanScan(df) else df)
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("sh"))

  /** Pairwise n-gram Jaccard near-dup via an inverted shingle index: docs
    * sharing ≥1 (rare) shingle become candidate pairs — generated off each
    * shingle's posting list, never all pairs — then exact Jaccard over the
    * full shingle sets decides `minJaccard`.
    *
    * Hot-shingle mitigation (`maxDocFrac` < 1): a shingle occurring in a
    * large fraction of documents (a stopword trigram) contributes O(df²)
    * rows to the self-join while carrying no near-dup signal. With the cap,
    * candidate PAIRS are generated only from shingles whose document
    * frequency is ≤ maxDocFrac·|docs|, then exact Jaccard is verified over
    * the FULL shingle sets — values are unchanged; only pairs whose shared
    * shingles are ALL hot are missed (by construction not near-dups at any
    * meaningful threshold). The cap itself is a scalar aggregate joined in
    * broadcast — no driver action, no collected counts.
    */
  def ngramJaccard(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3,
      minJaccard: Double = 0.5, maxDocFrac: Double = 1.0): DataFrame =
    sharedShingleStats(df, textCol, idCol, n, maxDocFrac)
      .withColumn("jac",
        round(col("inter").cast("double")
          / (col("sz1") + col("sz2") - col("inter")), 6))
      .filter(col("jac") >= minJaccard)
      .select(col("id1"), col("id2"), col("jac"))

  /** CONTAINMENT near-dup over the same inverted shingle index: pairs where
    * the smaller doc's shingle set is ≥ `minContainment` contained in the
    * larger's — |A∩B| / min(|A|,|B|). Catches the subset/quotation shape
    * Jaccard structurally misses: a doc fully embedded in a 10× larger one
    * has containment 1.0 but Jaccard ≤ 0.1, below any useful threshold.
    * Candidate generation, the DF cap and the exact set intersection are
    * the SAME code path as [[ngramJaccard]] — only the verdict formula
    * differs, so the scale story (posting-list pairs, never all-pairs) is
    * inherited. Caveat inherited too: candidates need ≥ 1 shared RARE
    * shingle under the cap.
    */
  def ngramContainment(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3,
      minContainment: Double = 0.8, maxDocFrac: Double = 1.0): DataFrame =
    sharedShingleStats(df, textCol, idCol, n, maxDocFrac)
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("sz1"), col("sz2")), 6))
      .filter(col("containment") >= minContainment)
      .select(col("id1"), col("id2"),
        least(col("sz1"), col("sz2")).cast("long").as("small_sz"),
        col("containment"))

  /** Candidate pairs + exact shared-shingle statistics (id1, id2, inter,
    * sz1, sz2) — the shared engine behind [[ngramJaccard]] and
    * [[ngramContainment]].
    */
  private def sharedShingleStats(df: DataFrame, textCol: String,
      idCol: String, n: Int, maxDocFrac: Double): DataFrame = {
    // ONE aggregation produces the per-doc shingle sets; everything else —
    // set sizes (size()), the row-level inverted index (explode) — derives
    // from the cached sets without re-shingling the corpus. The sets also
    // feed the exact-Jaccard verify (array_intersect per candidate pair, a
    // pure expression instead of a second pass through the inverted index;
    // measured ~2.5× faster at sf0.1).
    val sets = Caches.pin(
      shingleRows(df, textCol, idCol, n)
        .groupBy("id").agg(collect_list(col("sh")).as("__shs")))
    val shx = sets.select(col("id"), explode(col("__shs")).as("sh"))
    // Candidate pairs come straight off each shingle's POSTING LIST (sorted
    // id list → (ids[i], ids[j]) for i < j, so id1 < id2 by construction):
    // a Generate over the aggregated index instead of the previous
    // index-self-join, which re-shuffled the whole row-level index on both
    // sides and needed its own cache pin.
    def pairsFromLists(lists: DataFrame): DataFrame =
      lists
        .select(posexplode(col("ids")).as(Seq("__i", "id1")), col("ids"))
        .select(col("id1"),
          explode(slice(col("ids"), col("__i") + 2, size(col("ids")))).as("id2"))
        .distinct()
    val cand =
      if (maxDocFrac >= 1.0)
        // uncapped: posting lists straight off the index. Per-shingle list
        // buffer is the shingle's document frequency — acceptable only for
        // corpora known to lack hot shingles (the capped path below is the
        // 100 TB configuration; its buffers are bounded by the cap).
        pairsFromLists(
          shx.groupBy("sh").agg(sort_array(collect_list(col("id"))).as("ids")))
      else {
        // Hot-shingle document-frequency cap, computed SKEW-SAFE: the df
        // count is a partial-aggregating groupBy (a stopword shingle never
        // concentrates rows in one buffer), and posting lists are built only
        // for surviving rare shingles — no collect_list buffer can exceed
        // maxDocFrac·|docs| ids. The semi-join's output stays partitioned on
        // sh, so the list aggregation adds no exchange.
        val cap = broadcast(
          df.agg((count(lit(1)).cast("double") * maxDocFrac).as("__cap")))
        val rare = shx.groupBy("sh").agg(count(lit(1)).as("__df"))
          .crossJoin(cap)
          .filter(col("__df") >= 2 && col("__df") <= col("__cap")).select("sh")
        pairsFromLists(
          shx.join(rare, Seq("sh"), "left_semi")
            .groupBy("sh").agg(sort_array(collect_list(col("id"))).as("ids")))
      }
    // sz1/sz2 are size() over the set columns the verify joins already
    // carry — deriving them inline removes the two former sizes-relation
    // joins (r15: 2 fewer joins per gate; at scale, 2 fewer shuffles of a
    // |docs|-keyed relation). inline(array(struct(...))) pins the
    // intersection to ONE evaluation per candidate: the removed sizes
    // join doubled as a materialization barrier, and without a barrier
    // predicate pushdown inlines size(array_intersect(...)) into the
    // callers' threshold filters — measured 3 evaluations per candidate
    // in the plan and +1.6 s on dedup_ngram (the PearsonAligned
    // Generate-guard idiom, same reason).
    cand
      .join(sets.select(col("id").as("id1"), col("__shs").as("__shs1")), "id1")
      .join(sets.select(col("id").as("id2"), col("__shs").as("__shs2")), "id2")
      .select(col("id1"), col("id2"),
        inline(array(struct(
          size(array_intersect(col("__shs1"), col("__shs2"))).cast("long").as("inter"),
          size(col("__shs1")).as("sz1"),
          size(col("__shs2")).as("sz2")))))
  }

  /** MinHash signatures (id, sig: array<long>) with the portable hash family
    * h_i(x) = ((2i+1)·x + 7919·(i+1)) mod P over md5-derived shingle hashes
    * reduced mod P. One shuffle (shingle-hash set per doc, ~tens of values),
    * then the whole signature folds in ONE compiled pass over the set
    * ([[graft.functions.MinHashFold]] — value-identical to the
    * `transform(sequence, array_min(transform))` interpreted form it
    * replaced, which cost numHashes × |set| interpreted lambda evaluations
    * per document). No row blowup.
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    sh.select(col("id"), pmod(md5Long(col("sh")), lit(P)).as("h"))
      .groupBy("id").agg(collect_set(col("h")).as("hs"))
      .select(col("id"),
        graft.functions.MinHashFold(col("hs"), numHashes).as("sig"))

  /** [[minHashSignatures]] from per-doc shingle-SET rows `(id, shs)` — the
    * set-relation twin used when the caller already aggregated sets (the
    * streaming index pipeline): ZERO shuffle, a pure map over the sets.
    * Values are identical — the fold's per-function min is duplicate- and
    * order-insensitive, so skipping the collect_set dedup changes nothing.
    */
  private[graft] def minHashSignaturesFromSets(sets: DataFrame,
      numHashes: Int): DataFrame =
    sets.select(col("id"),
      graft.functions.MinHashFold(
        transform(col("shs"), x => pmod(md5Long(x), lit(P))),
        numHashes).as("sig"))

  /** MinHash + banded LSH near-dup detection:
    * signature of `numHashes` minhashes → `numBands` bands of
    * numHashes/numBands rows → docs sharing any band become candidates →
    * exact Jaccard (via [[ngramJaccard]]'s index) verifies ≥ `minJaccard`.
    *
    * At scale: candidates ≈ true near-dups (band collisions are rare for
    * dissimilar docs), so the expensive exact verify touches almost nothing.
    */
  def minHashLsh(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 32,
      numBands: Int = 8, minJaccard: Double = 0.5): DataFrame =
    minHashLshFromShingles(Caches.pin(shingleRows(df, textCol, idCol, n)),
      numHashes, numBands, minJaccard)

  /** [[minHashLsh]] from a precomputed distinct `(id, sh)` shingle relation
    * ([[shingleRows]]) — the shareable form: a composed pipeline (e.g.
    * [[Curation.curate]]) shingles the corpus ONCE and feeds both dedup and
    * benchmark decontamination, instead of paying the dominant explode scan
    * twice. The caller owns `sh`'s caching (it is read by the signature
    * pipeline and again by the exact-Jaccard verify).
    */
  def minHashLshFromShingles(sh: DataFrame, numHashes: Int = 32,
      numBands: Int = 8, minJaccard: Double = 0.5): DataFrame = {
    val cand = bandCandidates(sh, numHashes, numBands)
    // the count also materializes the pinned candidates the verify reads
    verifyRestricted(cand, sh, minJaccard, cand.count())
  }

  /** Banded-LSH candidate pairs `(id1 < id2)` from a distinct `(id, sh)`
    * shingle relation — the shared front half of every MinHash verify path
    * ([[minHashLshFromShingles]], [[editDistancePairs]]). The band relation
    * is pinned because the self-join would otherwise run the whole
    * signature pipeline (shingle md5 → collect_set → minhash folds) once
    * per side.
    */
  private[graft] def bandCandidates(sh: DataFrame, numHashes: Int,
      numBands: Int): DataFrame = {
    val bands = Caches.pin(
      bandRows(minHashSignatures(sh, numHashes), numHashes, numBands))
    Caches.pin(bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct())
  }

  /** Edit-distance near-dup verify: MinHash band collisions propose the
    * candidate pairs, then a character-level Levenshtein check keeps pairs
    * whose distance is ≤ `maxRel` × the longer text — the
    * order-sensitive complement to the set-based Jaccard verify (Jaccard
    * cannot tell a shuffled bag of the same shingles from a true edit;
    * Levenshtein can). Output: `(id1, id2, dist, rel)`.
    *
    * At scale the quadratic-in-length Levenshtein DP runs ONLY on band
    * collisions — a vanishing fraction of the corpus — so total cost is
    * |candidates| × len², never |corpus|². With a fixed absolute bound,
    * Spark's three-arg `levenshtein(l, r, threshold)` adds banded
    * early-abandon; the relative bound here needs the exact distance for
    * the `rel` column, so the plain two-arg form is used.
    */
  def editDistancePairs(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3, numHashes: Int = 32,
      numBands: Int = 8, maxRel: Double = 0.4): DataFrame = {
    val sh = Caches.pin(shingleRows(df, textCol, idCol, n))
    val cand = bandCandidates(sh, numHashes, numBands)
    val txt = df.select(col(idCol).as("id"), col(textCol).as("txt"))
    cand
      .join(txt.select(col("id").as("id1"), col("txt").as("t1")), "id1")
      .join(txt.select(col("id").as("id2"), col("txt").as("t2")), "id2")
      .select(col("id1"), col("id2"),
        levenshtein(col("t1"), col("t2")).as("d"),
        greatest(length(col("t1")), length(col("t2"))).as("len"))
      .filter(col("d") <= col("len") * maxRel)
      .select(col("id1"), col("id2"), col("d").cast("long").as("dist"),
        round(col("d") / col("len"), 6).as("rel"))
  }

  /** Candidate-restricted exact verify shared by the batch LSH paths:
    * semi-join the shingle relation down to ids that appear in a candidate
    * pair FIRST (band collisions are a vanishing fraction of the corpus at
    * any sane threshold), aggregate those few ids' full shingle sets, and
    * intersect per pair ([[verifyJaccardSets]]). Without the restriction
    * the verify's size aggregation runs over the WHOLE corpus — at sf0.1
    * that full-relation groupBy was the batch verify's dominant cost, and
    * at 100 TB it would re-aggregate the corpus to verify a handful of
    * pairs. Values identical: restriction drops rows of non-candidate ids
    * only; each kept id keeps its complete set.
    */
  private def verifyRestricted(cand: DataFrame, sh: DataFrame,
      minJaccard: Double, cnt: Long): DataFrame = {
    val candIds = cand.select(col("id1").as("id"))
      .unionByName(cand.select(col("id2").as("id"))).distinct()
    val sets = sh.join(broadcast(candIds), "id")
      .groupBy("id").agg(collect_list(col("sh")).as("shs"))
    verifyJaccardSets(cand, sets, minJaccard, cnt)
  }

  /** Cross-corpus near-dup: probe INCOMING documents against an existing
    * CORPUS — "dedup the new crawl against the training set", the batch
    * form of [[graft.streaming.StreamingNearDup]]'s index probe. Only
    * corpus × incoming band collisions become candidates (corpus docs are
    * never paired with each other, incoming never with incoming); output is
    * `(id1 = corpus doc, id2 = incoming doc, jac)`.
    *
    * At scale the corpus side's band rows are exactly the persisted band
    * index the streaming path maintains — in production they are READ, not
    * recomputed (bucket by (band, bkey) and the probe is exchange-free);
    * here both sides derive from their tables. The verify runs over the
    * combined shingle sets, de-duplicated defensively in case the same id
    * appears on both sides.
    *
    * PRECONDITION: corpus and incoming id spaces must be DISJOINT (or an
    * id colliding across sides must carry identical text). A collision
    * with different text would merge the two shingle sets in the combined
    * verify relation, inflating set sizes and corrupting `jac` for every
    * pair involving that id — the defensive `dropDuplicates` only makes
    * the identical-text case safe. Callers probing a new crawl against a
    * training corpus naturally satisfy this (fresh crawl ids); if not, tag
    * one side's ids (e.g. negate or offset) before calling.
    */
  def minHashLshAgainst(corpus: DataFrame, incoming: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", n: Int = 3,
      numHashes: Int = 32, numBands: Int = 8,
      minJaccard: Double = 0.5): DataFrame = {
    val shC = Caches.pin(shingleRows(corpus, textCol, idCol, n))
    val shI = Caches.pin(shingleRows(incoming, textCol, idCol, n))
    val bandsC = bandRows(minHashSignatures(shC, numHashes), numHashes, numBands)
    val bandsI = bandRows(minHashSignatures(shI, numHashes), numHashes, numBands)
    val cand = Caches.pin(bandsC.as("a")
      .join(bandsI.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct())
    verifyRestricted(cand,
      shC.unionByName(shI).dropDuplicates("id", "sh"), minJaccard,
      cand.count())
  }

  /** One row per (id, band): the band's signature slice as a join key.
    * Shared verbatim by the batch self-join above and the streaming
    * index join ([[graft.streaming.StreamingNearDup]]) so the two can't
    * drift.
    */
  private[graft] def bandRows(sig: DataFrame, numHashes: Int,
      numBands: Int): DataFrame = {
    val rows = numHashes / numBands
    sig
      .select(col("id"),
        explode(sequence(lit(0), lit(numBands - 1))).as("band"),
        col("sig"))
      .select(col("id"), col("band"),
        concat_ws(",", transform(
          slice(col("sig"), col("band") * rows + 1, lit(rows)),
          _.cast("string"))).as("bkey"))
  }

  /** Exact-Jaccard verification of candidate pairs over per-doc shingle-SET
    * rows `(id, shs)`: `jac = |x ∩ y| / (|x| + |y| − |x ∩ y|)` via a
    * per-pair `array_intersect` expression — no exploded self-join, no
    * count aggregation (an earlier exploded-row formulation measured ~2.5×
    * slower; values identical — the sets are distinct-element by
    * construction). Shared by the batch ([[verifyRestricted]]) and
    * streaming ([[graft.streaming.StreamingNearDup]]) LSH paths.
    *
    * Broadcast gate: the candidate set is broadcast into the set-relation
    * probe ONLY when its count (`candCount`, which every caller takes on a
    * pinned or persisted candidate relation) is ≤ `maxBroadcastCand`. An
    * unconditional hint would override Spark's size threshold — at 100 TB
    * with ~0.5% near-dup density the band-collision pair set can reach tens
    * of GB and a forced broadcast is a driver OOM. Above the bound the join
    * is left unhinted and AQE picks broadcast-vs-shuffle from the RUNTIME
    * shuffle size — a graceful shuffle join in the worst case.
    */
  private[graft] def verifyJaccardSets(cand: DataFrame, sets: DataFrame,
      minJaccard: Double, candCount: Long,
      maxBroadcastCand: Long = 2000000L): DataFrame = {
    val probe =
      if (candCount <= maxBroadcastCand) cand.hint("broadcast")
      else cand
    // inline(array(struct(...))) pins the intersection to ONE evaluation
    // per candidate (the sharedShingleStats / PearsonAligned Generate-guard
    // idiom): without the barrier, predicate pushdown folds the whole
    // size(array_intersect(...)) expression into the join CONDITION (per
    // candidate, with the intersect appearing twice in the tree) and the
    // surviving-pair projection re-evaluates it once more — verified in
    // plans/r16/dedup_minhash_{before,after}.txt.
    probe
      .join(sets.select(col("id").as("id1"), col("shs").as("__s1")), "id1")
      .join(sets.select(col("id").as("id2"), col("shs").as("__s2")), "id2")
      .select(col("id1"), col("id2"),
        inline(array(struct(
          size(array_intersect(col("__s1"), col("__s2"))).cast("long").as("inter"),
          size(col("__s1")).cast("long").as("sz1"),
          size(col("__s2")).cast("long").as("sz2")))))
      .withColumn("jac",
        round(col("inter").cast("double")
          / (col("sz1") + col("sz2") - col("inter")), 6))
      .filter(col("jac") >= minJaccard)
      .select(col("id1"), col("id2"), col("jac"))
  }

  /** 60-bit SimHash per document over whitespace tokens: bit b of the
    * fingerprint is the sign of Σ_tokens (2·bit_b(md5Long(token)) − 1).
    *
    * Entirely a per-row expression — the token-hash array folds into the
    * packed fingerprint through the codegen
    * [[graft.functions.SimHashFold]]: ONE compiled pass per document
    * instead of the previous `bits × tokens` interpreted lambda
    * evaluations (the counts are integer sums, so the value is unchanged).
    * No explode, no groupBy, ZERO shuffle: at 100 TB this is a pure map
    * over the scan. (An even earlier formulation exploded tokens and ran
    * 60 independent `sum(when…)` aggregate columns — one shuffle plus a
    * 60-wide aggregation buffer, measured 23× slower.)
    */
  def simHash(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", bits: Int = 60): DataFrame = {
    // coalesce mirrors the old fold's null→0 fall-through for null text
    val packed = coalesce(graft.functions.SimHashFold(
      transform(tokens(col(textCol)), t => md5Long(t)), bits), lit(0L))
    df.select(col(idCol).as("id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs: split each 60-bit simhash into 4 × 15-bit
    * chunks; any pair within Hamming distance ≤ maxHamming shares at least
    * one chunk (pigeonhole, 4 chunks > 3 differing bits), so the join is on
    * chunk equality — never all pairs.
    */
  def simHashPairs(sim: DataFrame, maxHamming: Int = 3): DataFrame = {
    // cached: the chunk self-join reads this twice; without the pin each
    // side re-runs the upstream fingerprint fold over every token
    val chunks = Caches.pin(sim.select(col("id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk",
        expr("shiftright(simhash, cast(c * 15 AS INT))").bitwiseAND(0x7FFFL)))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Generic banded Hamming join over a 64-bit fingerprint relation
    * `(id, h)` — the candidate machinery behind [[simHashPairs]],
    * factored for the perceptual hashes the multimodal near-dup legs
    * produce ([[Multimodal.dHash]], audio fingerprints): split each hash
    * into 4 × 16-bit bands; any pair within Hamming distance ≤
    * `maxHamming` ≤ 3 shares at least one identical band (pigeonhole:
    * ≤ 3 differing bits cannot touch all 4 bands), so candidates come
    * ONLY from band-equality collisions — the pair space never
    * materializes, and at 100 TB the cost is 4 hash shuffles on band
    * keys plus an exact `bit_count(xor)` verify on the collision set.
    * (The masked shift keeps band 3 correct for negative hashes —
    * `shiftright` on a long is arithmetic.)
    */
  def hammingPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    // cached: the band self-join reads this twice; without the pin each
    // side re-runs the upstream fingerprint computation (for dHash that
    // is a full image decode per row)
    val chunks = Caches.pin(hashes.select(col("id"), col("h"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("band",
        expr("shiftright(h, cast(c * 16 AS INT))").bitwiseAND(0xFFFFL)))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.band") === col("b.band")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over a near-dup pair relation (id1, id2): every
    * document in a duplicate cluster gets the cluster's SMALLEST id as its
    * `comp` label — the canonical-representative step a dedup pipeline runs
    * after pair generation (keep `id == comp`, drop the rest). Output covers
    * exactly the nodes that appear in ≥1 pair; `id` and `comp` keep the
    * input's id type.
    *
    * Two paths, chosen from the OBSERVED edge count, never from a setting:
    *
    *  - Driver union-find: one bounded collect
    *    (`limit(LocalEdges + 1)`); when it returns at most [[LocalEdges]]
    *    edges the components are labeled on the driver (path compression,
    *    the smaller id always the root) and returned as a local relation.
    *    The collect is Spark's incremental take: it scans 1, then 5, 25, …
    *    partitions of the pair relation, one job each, so P partitions cost
    *    1 + ⌈log₅ P⌉ jobs (one for a single partition), plus the stages
    *    that build the pairs. Near-dup pair sets are a small fraction of a
    *    corpus (75 pairs over 1,500 documents in the curation benchmark).
    *  - Distributed rounds, for edge sets above the driver bound — the only
    *    path that scales to the 100 TB case. Min-label propagation with
    *    pointer jumping: each round every node takes the min of its own
    *    label, its neighbors' labels, AND its label's label (path doubling),
    *    so convergence is O(log diameter) rounds of two joins + one
    *    aggregation, with no driver-side graph state. Every round eagerly
    *    `localCheckpoint`s the new label relation (an iterative plan
    *    otherwise compounds each round's tree into the next — the standard
    *    Spark iterative-graph pattern) and converges on a label checksum.
    *    Each round costs two Spark actions. The edges are cached before
    *    the gate: its collect fills the cache for the partitions it scans
    *    and the rounds fill the rest, so no partition of the pair relation
    *    is computed twice. Above the bound the gate adds only its
    *    collect's jobs and ships at most `LocalEdges + 1` rows to the
    *    driver.
    *
    * The driver path handles `bigint` ids without nulls; any other id type,
    * or a null id, takes the rounds. It ignores `maxIter` (union-find
    * always converges).
    */
  def components(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    components(pairs, maxIter, LocalEdges)

  /** [[components]] with the driver bound as an argument, so a spec can
    * probe the gate or force the distributed rounds (`localEdges = -1`:
    * no edge count is at most -1, not even an empty one).
    */
  private[graft] def components(pairs: DataFrame, maxIter: Int,
      localEdges: Long): DataFrame = {
    val edges = pairs.select(col("id1"), col("id2"))
    if (!edges.schema.fields.forall(_.dataType == LongType))
      return componentRounds(edges, maxIter)
    // cached, not checkpointed: the gate's collect fills the cache as it
    // scans, so an edge set over the bound reaches the rounds without
    // re-running the pair relation's lineage, and the driver path pays no
    // extra job. The rounds checkpoint the edges before they return, so
    // the cache is dropped on both paths.
    val held = edges.persist()
    try {
      val rows = held.limit(localEdges.toInt + 1).collect()
      if (rows.length <= localEdges && !rows.exists(_.anyNull))
        unionFindLabels(pairs.sparkSession, rows)
      else componentRounds(held, maxIter)
    } finally { held.unpersist(); () }
  }

  /** The largest edge set [[components]] labels on the driver. Set from a
    * measurement (BASELINE.md "r18", `local[4]`, 3 GB heap): at 100,000
    * edges, all in disjoint pairs (two labeled nodes per edge, the
    * heaviest output per edge), the driver path peaked at 190–300 MB of
    * heap after collection, also inside a 1 GB heap, and took 1.3–1.7 s
    * against 3.6 s for the rounds. Its heap grows with the labeled nodes,
    * about 1.3 KB each: 1.3 GB at 500,000 such edges and about 3 GB at
    * 2,000,000 edges in four-node clusters, the whole of that heap, while
    * still faster than the rounds there.
    */
  private val LocalEdges = 100000L

  /** Driver-side union-find over `(id1, id2)` bigint rows: ids are indexed
    * in sorted order, so the smaller index is the smaller id, and every
    * union makes the smaller root the parent — each root is its
    * component's minimum id. Returns `(id, comp)` sorted by id.
    */
  private def unionFindLabels(spark: SparkSession, rows: Array[Row]): DataFrame = {
    val ends = new Array[Long](rows.length * 2)
    rows.indices.foreach { i =>
      ends(2 * i) = rows(i).getLong(0)
      ends(2 * i + 1) = rows(i).getLong(1)
    }
    val ids = ends.sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var i = x
      while (parent(i) != root) { val next = parent(i); parent(i) = root; i = next }
      root
    }
    rows.indices.foreach { i =>
      val a = find(java.util.Arrays.binarySearch(ids, ends(2 * i)))
      val b = find(java.util.Arrays.binarySearch(ids, ends(2 * i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val labels = ids.indices.map(i => Row(ids(i), ids(find(i))))
    spark.createDataFrame(labels.asJava, StructType(Seq(
      StructField("id", LongType), StructField("comp", LongType))))
  }

  /** The distributed min-label rounds behind [[components]]. */
  private def componentRounds(pairs: DataFrame, maxIter: Int): DataFrame = {
    val edges = pairs
      .select(col("id1").as("src"), col("id2").as("dst"))
      .unionByName(pairs.select(col("id2").as("src"), col("id1").as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    // convergence via an order-independent label checksum — one scan of the
    // (checkpointed) label relation per round, no join against the previous
    // round's labels
    // decimal accumulator: ANSI mode makes a long sum of hashes throw on
    // overflow; decimal(38) cannot overflow at any realistic row count
    def checksum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(xxhash64(col("id"), col("comp")).cast("decimal(28,0)"))).head
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    var prevSum = checksum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(col("src").as("id"), col("comp"))
      val jump = labels.as("a")
        .join(labels.as("b"), col("a.comp") === col("b.id"))
        .select(col("a.id").as("id"), col("b.comp").as("comp"))
      val prev = labels
      labels = labels.unionByName(prop).unionByName(jump)
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint()
      // bound executor storage to 2 label copies, not O(iters) — via the
      // bridge: Dataset.unpersist is a no-op for localCheckpoint pins
      org.apache.spark.sql.graftshim.CheckpointBridge.unpersistCheckpoint(prev)
      val s = checksum(labels)
      converged = s == prevSum
      prevSum = s
      iter += 1
    }
    labels
  }

  /** End of the near-dup pipeline: drop every document that belongs to a
    * duplicate cluster but is not its (smallest-id) representative. The
    * cluster labeling is [[components]] over `pairs`; docs in no pair
    * survive untouched. One broadcast-sized anti-join against the corpus —
    * the label relation is bounded by the number of *duplicated* docs, a
    * small fraction of the corpus at any scale.
    */
  def survivors(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val dropList = components(pairs).filter(col("comp") =!= col("id"))
    docs.join(dropList, docs(idCol) === dropList("id"), "left_anti")
  }

  /** [[survivors]] with a QUALITY-AWARE representative: each duplicate
    * cluster keeps its highest-scoring member (id ascending on ties)
    * instead of the smallest id — the production policy, since the
    * smallest-id rule throws away a clean copy whenever it collides with
    * an earlier low-quality one. `scores` maps `idCol` → `scoreCol` (e.g.
    * [[TextAnalysis.quality]]'s composite). Same cost shape as
    * [[survivors]]: the label relation is bounded by the duplicated docs,
    * the winner pick is one `max_by` hash agg over it (no per-cluster
    * sort), and the corpus pays one anti-join.
    */
  def survivorsByScore(docs: DataFrame, pairs: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "quality_score"): DataFrame = {
    val member = components(pairs).join(
      scores.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val winners = member.groupBy("comp")
      .agg(max_by(col("id"), struct(col("__s"), -col("id"))).as("keep"))
    val losers = member.join(winners, "comp")
      .filter(col("id") =!= col("keep")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Embedding cosine near-dup within a blocking key (e.g. cluster label):
    * pairs in the same block with cosine ≥ `minCos`. Blocking bounds the
    * quadratic term to the largest block.
    *
    * Skew guard: a block larger than `maxBlock` rows would silently
    * reintroduce an O(n²) single-task hotspot, so each block is split into
    * S = ⌈|block|/maxBlock⌉ sub-blocks by vec_id hash and the triangular
    * self-join runs on (block, sub-block cell) — the same B(B+1)/2 cell
    * fan-out as the correlation pair join (see
    * [[Correlations.correlatePackets]]): pair {x, y} meets in exactly the
    * cell (min(sx,sy), max(sx,sy)), so the output is IDENTICAL to the
    * unguarded join while no task owns more than ~maxBlock² comparisons.
    * Blocks at or under `maxBlock` get S = 1 — a single cell, no
    * replication. The per-block size join is one broadcast of |blocks| rows.
    */
  /** Positional word w-grams: one row per (doc_id, pos, k) where `k` is the
    * md5 hex of the w whitespace tokens starting at 0-based token offset
    * `pos`. Unlike [[shingleRows]] (distinct shingles — set semantics for
    * Jaccard), positions are kept and repeats are NOT collapsed: the span
    * detector needs to know WHERE a duplicated gram sits inside the doc.
    * Docs shorter than w tokens contribute nothing. Linear in total token
    * count — a narrow per-row transform + explode, no shuffle.
    */
  private[graft] def spanGrams(df: DataFrame, textCol: String, idCol: String,
      w: Int, fan: Boolean = true): DataFrame =
    // Compiled gram builder (graft.functions.SpanGramKeys — one static call
    // per row instead of interpreted HOF lambdas); short docs yield an empty
    // key array, which posexplode drops exactly like the old pre-explode
    // size filter. Bit-equal to spanGramsInterpreted (ShingleOpsSpec).
    // fanScan for the same reason as shingleRows: the gram build + md5 is
    // the scan stage's work and single-row-group inputs pin it to one core.
    (if (fan) fanScan(df) else df).select(col(idCol).as("doc_id"),
      posexplode(graft.functions.SpanGramKeys(col(textCol), w))
        .as(Seq("pos", "k")))

  /** The original declarative positional-gram pipeline — kept as the
    * executable SPEC for [[spanGrams]] (see ShingleOpsSpec).
    */
  private[graft] def spanGramsInterpreted(df: DataFrame, textCol: String,
      idCol: String, w: Int): DataFrame = {
    val t = tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), t.as("toks"))
      .filter(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("toks")) - w),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))))
          .as(Seq("pos", "k")))
  }

  /** Exact duplicate-SPAN statistics per document — the positional form of
    * exact substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022: duplicated ≥N-token substrings, found
    * there with a suffix array). The distributed re-expression: a token
    * position is *duplicated* when its w-gram occurs ≥2 times anywhere in
    * the corpus (cross-doc or a repeat within the same doc — the paper
    * removes both). Output: per doc, total w-gram positions `n_pos`,
    * duplicated positions `n_dup_pos`, distinct duplicated grams
    * `n_dup_ngrams`, and `dup_ratio` — the fraction of the doc covered by
    * corpus-duplicated text, the usual filter/penalty signal.
    *
    * Scale shape (suffix arrays don't distribute; this does): explode is
    * linear in tokens; the occurrence count is one hash aggregation with
    * map-side partials (boilerplate grams — the hot keys — collapse to one
    * row per partition before the shuffle); the flag join is an equi-join
    * on the gram key. No all-pairs anywhere, no per-doc-pair work.
    */
  def duplicateSpans(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", w: Int = 8): DataFrame =
    spansFromGrams(Caches.pin(spanGrams(df, textCol, idCol, w)))

  /** [[duplicateSpans]] over a precomputed positional-gram relation (the
    * output shape of the private gram builder: `doc_id, pos, k`). Callers
    * computing both span stats AND runs should build the grams once via
    * [[duplicateSpanStats]] so the corpus is tokenized and cached a single
    * time.
    */
  private def spansFromGrams(g: DataFrame): DataFrame = {
    val flagged = g.join(duplicatedKeys(g).withColumn("isdup", lit(1)),
      Seq("k"), "left")
    flagged.groupBy("doc_id").agg(
      count(lit(1)).as("n_pos"),
      sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup_pos"),
      countDistinct(when(col("isdup") === 1, col("k"))).as("n_dup_ngrams"))
      .withColumn("dup_ratio",
        round(col("n_dup_pos").cast("double") / col("n_pos"), 6))
  }

  /** Grams occurring ≥2 times corpus-wide (count over ALL positions, so an
    * intra-doc repeat counts — matching the paper's "any second occurrence
    * is removable" stance).
    */
  private def duplicatedKeys(g: DataFrame): DataFrame =
    g.groupBy("k").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("k")

  /** Maximal duplicated RUNS per document: consecutive duplicated w-gram
    * positions collapsed to (run_start, n_grams, run_tokens) via the
    * gaps-and-islands grouping (pos − row_number() is constant within a
    * consecutive run). `run_tokens` = n_grams + w − 1 is the token length of
    * the duplicated substring itself — what an excision pass would cut.
    * The only per-doc serial step is the row_number window, bounded by doc
    * length. The upstream gram CODE PATH is shared with [[duplicateSpans]],
    * but each standalone call builds (and caches) its own gram relation —
    * callers needing both families should use [[duplicateSpanStats]], which
    * tokenizes and pins the corpus once.
    */
  def duplicateSpanRuns(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", w: Int = 8): DataFrame =
    runsFromGrams(Caches.pin(spanGrams(df, textCol, idCol, w)), w)

  /** Both duplicate-span families — per-doc stats and maximal runs — off a
    * SINGLE cached positional-gram relation: the corpus is tokenized,
    * exploded and pinned once instead of twice.
    */
  def duplicateSpanStats(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", w: Int = 8): (DataFrame, DataFrame) = {
    val g = Caches.pin(spanGrams(df, textCol, idCol, w))
    (spansFromGrams(g), runsFromGrams(g, w))
  }

  /** Corpus-order NOVELTY per document: the fraction of a doc's w-gram
    * positions whose gram has NOT already appeared in any earlier document
    * (smaller id). The incremental-ingest complement of [[duplicateSpans]]:
    * where dup_ratio asks "how much of this doc is duplicated anywhere",
    * novelty asks "how much would this doc ADD if the corpus were ingested
    * in id order" — the signal an append-only curation pipeline uses to
    * price a new batch before admitting it. Intra-doc repeats stay novel
    * (the first doc carrying a gram owns every occurrence of it).
    *
    * Scale shape: identical to [[duplicateSpans]] — linear explode, one
    * hash aggregation (`min(doc_id)` per gram, map-side partials collapse
    * boilerplate grams per partition), one equi-join on the gram key.
    * No ordering, no window over the corpus: "earlier" is resolved by the
    * min-aggregate, not a sort.
    */
  def corpusNovelty(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", w: Int = 8): DataFrame = {
    val g = Caches.pin(spanGrams(df, textCol, idCol, w))
    val firstDoc = g.groupBy("k").agg(min(col("doc_id")).as("first_doc"))
    g.join(firstDoc, "k")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_pos"),
        sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_stale_pos"))
      .withColumn("novelty", round(
        (col("n_pos") - col("n_stale_pos")).cast("double") / col("n_pos"), 6))
  }

  /** Span EXCISION — the output side of exact-substring dedup (Lee et al.
    * 2022 keep one occurrence, cut the rest): every non-first occurrence of
    * a corpus-duplicated w-gram is removed from its document and the
    * surviving tokens are re-joined. "First" is the corpus-global minimum
    * (doc_id, pos) per gram, so exactly one copy of every duplicated span
    * survives and the result is deterministic. Output per doc: `n_tokens`
    * (pre-cut), `n_removed` (tokens cut — the union of the excised w-token
    * intervals, overlaps counted once), and `text_clean` — the cleaned text
    * in NORMALIZED token space (lower-cased, single-spaced: excision edits
    * the token stream, not the raw bytes; a production pipeline would map
    * token offsets back to byte offsets at the writer).
    *
    * Scale shape: the keep-first choice is `min(struct(doc_id, pos))` per
    * gram — a hash aggregation with map-side partials, NOT a row_number
    * sort-rank, so a boilerplate gram with 10⁶ occurrences partial-
    * aggregates before the shuffle instead of sorting on one partition.
    * Interval union is gaps-and-islands per doc (window bounded by doc
    * length); the final token filter is a per-row lambda over the doc's own
    * (few) merged intervals. No all-pairs anywhere.
    */
  def exciseDuplicateSpans(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", w: Int = 8): DataFrame = {
    val g = Caches.pin(spanGrams(df, textCol, idCol, w))
    // ONE aggregation yields both facts the excision needs — which grams
    // are duplicated (cnt ≥ 2) and which occurrence survives (min struct):
    // a fused hash agg with map-side partials instead of a dup-key count
    // plus a separate keep-first pass over the same relation
    val keep = g.groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2).select("k", "first")
    val ex = g.join(keep, "k")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + lit(w - 1)).cast("long").as("e"))
    cleanFromExcised(
      df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks")), ex)
  }

  /** Interval-union + token-filter tail of [[exciseDuplicateSpans]], shared
    * with the streaming twin: merge each doc's excised [s, e] token
    * intervals by gaps-and-islands, then drop covered tokens and re-join.
    * `docsToks`: (doc_id, toks); `ex`: (doc_id, s, e) excised intervals.
    */
  private[graft] def cleanFromExcised(docsToks: DataFrame,
      ex: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("s")
    val prevMax = max(col("e")).over(
      win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val islands = ex
      .withColumn("brk",
        when(col("s") > coalesce(prevMax, lit(-2L)) + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("brk")).over(
        win.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("rs"), max("e").as("re"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("rs"), col("re"))).as("ivs"),
        sum(col("re") - col("rs") + 1).as("n_removed"))
    docsToks
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        concat_ws(" ",
          when(col("ivs").isNull, col("toks")).otherwise(
            filter(col("toks"), (_, i) => !exists(col("ivs"),
              iv => i >= iv("rs") && i <= iv("re"))))).as("text_clean"))
  }

  private def runsFromGrams(g: DataFrame, w: Int): DataFrame = {
    val dupPos = g.join(duplicatedKeys(g), Seq("k"), "left_semi")
      .select("doc_id", "pos")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPos.withColumn("grp", col("pos") - row_number().over(win))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("long").as("run_start"),
        count(lit(1)).as("n_grams"))
      .withColumn("run_tokens", col("n_grams") + lit(w - 1).cast("long"))
      .select("doc_id", "run_start", "n_grams", "run_tokens")
  }

  def embeddingNearDup(emb: DataFrame, blockCol: String,
      minCos: Double, maxBlock: Int = 10000): DataFrame = {
    val e = emb.select(col("vec_id"), col(blockCol).as("blk"),
      col("embedding").cast("array<double>").as("v"))
    val sizes = e.groupBy("blk").agg(count(lit(1)).as("__bn"))
    val withNorm = Caches.pin(
      e.withColumn("nrm", Similarity.l2Norm(col("v")))
        .join(broadcast(sizes), "blk")
        .withColumn("__s",
          greatest(lit(1L), ceil(col("__bn").cast("double") / maxBlock)).cast("int"))
        .withColumn("__sub", pmod(hash(col("vec_id")), col("__s"))))
    val aSide = withNorm
      .withColumn("__hi", explode(sequence(col("__sub"), col("__s") - 1)))
    val bSide = withNorm
      .withColumn("__lo", explode(sequence(lit(0), col("__sub"))))
    aSide.as("a")
      .join(bSide.as("b"),
        col("a.blk") === col("b.blk") &&
          col("a.__sub") === col("b.__lo") && col("a.__hi") === col("b.__sub") &&
          (col("a.__sub") < col("b.__sub") || col("a.vec_id") < col("b.vec_id")))
      .withColumn("cos", round(
        Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
        6))
      .filter(col("cos") >= minCos)
      .select(least(col("a.vec_id"), col("b.vec_id")).as("id1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("id2"),
        col("a.blk").as("block"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering the embedding space and pruning
    * near-identical items WITHIN each cluster — the curation step that
    * removes paraphrase-level duplicates exact/minhash dedup cannot see.
    *
    * Pipeline: [[Similarity.kMeans]] learns the partition (deterministic
    * Lloyd's — centroids are broadcast literals, each iteration ONE corpus
    * scan, the corpus never shuffles), then [[embeddingNearDup]] blocked on
    * the learned cluster emits within-cluster pairs with cosine >= minCos
    * (cell-bounded: clusters larger than `maxBlock` are sub-split so no
    * cell's pair space exceeds maxBlock² — the knob that keeps the
    * quadratic term bounded at 100 TB, where k grows with the corpus and
    * cluster populations stay roughly constant). Keep policy is
    * deterministic keep-first: a vector is a duplicate iff some LOWER-id
    * vector in its cluster clears the threshold; `dup_of` records the
    * smallest such id (the paper keeps the item farthest from the
    * centroid — swap the min() for that ranking when ids carry no
    * curation-priority meaning).
    *
    * Output: one row per vector — (vec_id, cluster, is_dup, dup_of).
    */
  def semanticDedup(emb: DataFrame, k: Int = 8, iters: Int = 3,
      minCos: Double = 0.35, maxBlock: Int = 10000): DataFrame = {
    val assign = Similarity.kMeans(emb, k, iters)
    val clustered = emb.join(assign, "vec_id")
    val dups = embeddingNearDup(clustered, "cluster", minCos,
        maxBlock = maxBlock)
      .groupBy(col("id2").as("vec_id"))
      .agg(min("id1").as("dup_of"))
    assign.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
  }
}
