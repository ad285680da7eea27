package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PearsonAligned

/** Sliding-window all-pairs Pearson correlation over candle log-returns.
  *
  * Re-expresses the reference's STEP 4-5 (`FXTimeSeriesPipelineDemo.java:270-348`)
  * — log-return projection (`DistributeWorkDataDoFn.java:60-71`), per-window
  * packet building (`CreateWorkPacketsDoFn.java:41-98`), manual 20-way
  * hash-partitioned Cartesian pairing
  * (`CreatePartitionWorkPacketsDoFn.java:37-99`) and commons-math Pearson
  * (`ComputeCorrelationsDoFn.java:34-209`) — as:
  *
  *  1. `window(ts, size, slide)` replaces `SlidingWindows`; each point lands
  *     in size/slide windows;
  *  2. pivot: one row per (window, key) holding the series as ts-sorted
  *     parallel arrays — the Spark shape of the reference's `WorkPacket`
  *     (`CreateWorkPacketsDoFn.java:41-98`); a few points per row, so the
  *     whole pivoted relation is ~|windows|·|keys| compact rows;
  *  3. triangular self-join on (window, key-block cell) — `a.key < b.key`
  *     replaces the hand-rolled pair fan-out + O(n) seen-pair dedup
  *     (`WorkPacketUtils.getMyPartitions:39-45`), and bucketing keys into B
  *     blocks spreads each window's O(keys²) pair space over B(B+1)/2
  *     schedulable cells — evaluating [[PearsonAligned]], a codegen'd
  *     two-pointer merge that aligns the two series on exact timestamps and
  *     computes Pearson in one pass.
  *
  * Scale notes (100 TB): the O(keys²) pair blow-up never touches a shuffle —
  * the only exchanges are the pivot groupBy (|points| rows) and the self-join
  * hash on window (|windows|·|keys| compact rows). Pair rows exist solely
  * inside whole-stage codegen between the join and the threshold filter,
  * which discards most of them immediately. The previous formulation
  * (point-level join + `corr` groupBy) shuffled O(windows·keys²·points) rows
  * — ~1.6B at sf0.1 — and was 10-20× slower. When `propagateNaN` is off,
  * constant series (zero variance over the whole window — every pair
  * involving one is NaN, because any timestamp-aligned subset of a constant
  * series is constant) are pruned BEFORE the join, which shrinks the
  * quadratic term to live keys only: gap-filled carry-forward candles make
  * most series constant-zero in quiet windows.
  *
  * Partition widths follow the [[Scans]] rule: byte-sized stages are left
  * to AQE, stages whose work does not follow their bytes get an explicit
  * count. The pair join's work grows with keys², not with the compact
  * packet bytes, so the batch pin is hashed on (w, key) to the session's
  * shuffle partitions (see `pinnedSlim`); the streaming path keeps its
  * per-epoch persist and its own `joinParallelism`.
  */
object Correlations {

  /** value = ln(close.ask / open.ask), stamped at candle close time
    * (`DistributeWorkDataDoFn.java:60-71` — bid is ignored by the reference).
    * Non-positive prices yield null instead of the reference's silent
    * -Infinity/NaN (`Math.log`) — ANSI-safe and droppable downstream; the
    * `when` guard keeps the division lazy so ANSI mode cannot throw.
    */
  def logReturns(candles: DataFrame): DataFrame =
    candles.select(
      col("key"),
      col("closeTime").as("ts"),
      when(col("close.askPrice") > 0 && col("open.askPrice") > 0,
        log(col("close.askPrice") / col("open.askPrice"))).as("ret"))

  /** One row per (sliding window, key): the series as ts-sorted parallel
    * arrays plus its full-window stddev (for NaN-pair pruning). The Spark
    * `WorkPacket`. Works on batch AND streaming inputs (the groupBy becomes a
    * watermarked streaming aggregation when `returns` is a stream —
    * [[graft.streaming.StreamingCorrelations]]).
    */
  private[graft] def packets(returns: DataFrame, windowSize: String, slide: String): DataFrame =
    slidingWindowed(returns.filter(col("ret").isNotNull), windowSize, slide)
      .groupBy(col("w"), col("key"))
      .agg(sort_array(collect_list(struct(col("ts"), col("ret")))).as("pts"),
        stddev_pop(col("ret")).as("sd"))
      // the sorted struct array exists only inside this projection: every
      // consumer reads the series as the parallel primitive tss/rets arrays
      // (the struct copy would otherwise ride the streaming sink, the cache
      // pin and the pair-join exchanges as a third copy of every series)
      .select(col("w"), col("key"),
        transform(col("pts"), p => unix_micros(p.getField("ts"))).as("tss"),
        transform(col("pts"), p => p.getField("ret")).as("rets"),
        col("sd"))

  /** `(w struct<start,end>, key, ts, ret)` with each point replicated into
    * every sliding window containing it.
    *
    * Streaming inputs use `window(ts, size, slide)` — the engine requires
    * the native TimeWindow column for watermark-driven state eviction.
    *
    * Batch inputs expand the slide arithmetic manually: the window set for
    * a point is `lastStart − i·slide, i ∈ [0, ⌈size/slide⌉)` with
    * `lastStart = ts − (ts mod slide)` and the `start ≤ ts < end`
    * containment filter — exactly Spark's own TimeWindowing expansion
    * (same micros arithmetic, value-identical output; equality pinned in
    * CorrelationsSpec), but through `explode` instead of an `Expand` node.
    * Why: a cached relation whose plan contains the TimeWindow `Expand`
    * is NOT matched by the cache manager for the deduplicated (right)
    * side of a self-join — the pinned packet relation silently re-ran
    * its whole upstream (scan → candles → returns → pivot) once per
    * pair-join side on every correlation gate (plans/r15/fx_corr_*.txt:
    * one InMemoryTableScan, the b-side fully inlined; reproduced and
    * isolated to the sliding-window Expand on Spark 4.1.2). With the
    * explode form both sides read the pin (plans/r16).
    */
  private[graft] def slidingWindowed(pts: DataFrame, windowSize: String,
      slide: String): DataFrame =
    if (pts.isStreaming)
      pts.select(window(col("ts"), windowSize, slide).as("w"), col("key"),
        col("ts"), col("ret"))
    else {
      val sizeU = graft.streaming.StreamingCandles.durationMicros(windowSize)
      val slideU = graft.streaming.StreamingCandles.durationMicros(slide)
      val n = (sizeU + slideU - 1) / slideU
      val m = unix_micros(col("ts"))
      val last = m - pmod(m, lit(slideU))
      pts.select(col("key"), col("ts"), col("ret"),
          explode(transform(sequence(lit(0L), lit(n - 1)),
            i => last - i * lit(slideU))).as("__ws"))
        .filter(m >= col("__ws") && m < col("__ws") + lit(sizeU))
        .select(struct(timestamp_micros(col("__ws")).as("start"),
            timestamp_micros(col("__ws") + lit(sizeU)).as("end")).as("w"),
          col("key"), col("ts"), col("ret"))
    }

  /** Per-(window, key) distributed point counts — the observability counter
    * the reference side-outputs while re-keying work data
    * (`DistributeWorkDataDoFn.java:76-78`, `c.sideOutput(tag, 1)` summed
    * downstream). One partial-aggregated count, exposed as a first-class
    * relation instead of a metrics side channel.
    */
  def pointCounts(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds"): DataFrame =
    returns
      .filter(col("ret").isNotNull)
      .groupBy(window(col("ts"), windowSize, slide).as("w"), col("key"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("w.start").as("windowStart"), col("w.end").as("windowEnd"),
        col("key"), col("n_points"))

  /** Canonical pair-key rendering of the reference
    * (`WorkPacketUtils.createKey:55-62`): the two keys sorted and joined with
    * " :: ". Compatibility formatter for consumers of the reference's output
    * schema; the structured `key1`/`key2` columns remain the primary API.
    */
  def pairLabel(key1: Column, key2: Column): Column =
    concat_ws(" :: ", least(key1, key2), greatest(key1, key2))

  /** All-pairs Pearson correlation per sliding window with the reference's
    * threshold / NaN policy (`ComputeCorrelationsDoFn.java:166-203`):
    * pairs with <2 aligned points are skipped; NaN correlations are dropped
    * unless `propagateNaN`, in which case value := 1.0 and `isNaN` = true
    * (`ComputeCorrelationsDoFn.java:188-193` — intentional, replicated).
    *
    * CACHE CONTRACT: with `cache = true` (default) the compact packet
    * relation is pinned so the pair self-join doesn't run the upstream
    * pipeline twice; the pin is owned by [[Caches]] — long-running callers
    * either pass `cache = false` or call `Caches.release(spark)` once the
    * result is consumed (caller-owned caches are never touched).
    */
  def correlate(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      minCorr: Double = 0.5,
      propagateNaN: Boolean = false,
      includeUnderlying: Boolean = false,
      keyBlocks: Int = 8,
      cache: Boolean = true): DataFrame =
    correlatePackets(packets(returns, windowSize, slide),
      minCorr, propagateNaN, includeUnderlying, cache = cache,
      keyBlocks = keyBlocks)

  /** Pair-join + Pearson + threshold/NaN policy over a packet relation (the
    * output shape of [[packets]]). Shared verbatim by the batch path above
    * and the streaming path's per-micro-batch join
    * ([[graft.streaming.StreamingCorrelations]]) so the two can't drift.
    */
  private[graft] def correlatePackets(
      pk0: DataFrame,
      minCorr: Double,
      propagateNaN: Boolean,
      includeUnderlying: Boolean,
      cache: Boolean = true,
      keyBlocks: Int = 8): DataFrame = {

    correlateSlim(pinnedSlim(pk0, propagateNaN, cache), minCorr,
      propagateNaN, includeUnderlying, keyBlocks)
  }

  /** The pair join's input: pruned, slimmed and (with `cache`) pinned —
    * shared by [[correlatePackets]] and [[correlateNormalized]] so the two
    * batch pin sites cannot drift.
    *
    * A constant series correlates NaN with everything; when NaN pairs are
    * dropped anyway, its packets are pruned before the quadratic join.
    *
    * The pin: the self-join would otherwise execute the whole upstream
    * pipeline (candles → returns → pivot) once PER SIDE — measured as ~70%
    * of query time at sf0.1, vs 3 s for the 265 M-pair join+Pearson itself.
    * Packets are |windows|·|keys| compact rows (a few hundred MB at 10k
    * keys), safe to pin MEMORY_AND_DISK even at 100 TB input. CACHE
    * CONTRACT: the pin is registered with Caches — release it with
    * Caches.release(spark) when done, or pass cache = false, as the
    * streaming path does (its foreachBatch persists/unpersists per
    * micro-batch and sizes its own join parallelism instead).
    *
    * The pinned relation is hash-repartitioned on (w, key) to the session's
    * shuffle partitions ([[Scans.fanToShufflePartitions]]): pair work grows
    * with keys², not with the packet bytes AQE would size the partitions
    * by, and the pair stage streams over the pin's partitions (its broadcast
    * or local-read side keeps them), so a byte-coalesced pin ran the 22 M
    * candidate pair stage of the fx_batch benchmark as 1-2 tasks. The hash
    * must include `w`: the key-block id is `pmod(hash(key), B)`, and
    * Spark's hash partitioner is `pmod(hash(key), n)` with the same Murmur3
    * seed, so a pin hashed on `key` alone puts blocks p and p + n in
    * partition p — at B = 8, n = 4 the four tasks probe 12:10:8:6 cells.
    */
  private def pinnedSlim(pk0: DataFrame, propagateNaN: Boolean,
      cache: Boolean): DataFrame = {
    val pkF = if (propagateNaN) pk0 else pk0.filter(col("sd") > 0)
    val slim = slimPackets(pkF)
    if (cache) Caches.pin(Scans.fanToShufflePartitions(slim, col("w"), col("key")))
    else slim
  }

  /** The pair-evaluation projection of a packet relation (guide §2.3 —
    * project the join sides down to what the pair evaluation reads BEFORE
    * the pin + explode + exchange): the merge kernel needs only the
    * parallel tss/rets arrays and the pre-alignment count. The `pts`
    * struct-array (a third copy of the series) is dropped entirely — since
    * r16 even the underlying-payload gates rebuild per-point output from
    * tss/rets, so no exchange and no cache encode ever carries it.
    */
  private def slimPackets(pkF: DataFrame): DataFrame =
    pkF.select(col("w"), col("key"), col("tss"), col("rets"),
      size(col("tss")).as("nPts"))

  /** Pair join + Pearson + policy over an already-slim packet relation
    * (the output shape of [[slimPackets]]) — the shared tail of
    * [[correlatePackets]] and [[correlateNormalized]].
    */
  private def correlateSlim(
      slim: DataFrame,
      minCorr: Double,
      propagateNaN: Boolean,
      includeUnderlying: Boolean,
      keyBlocks: Int): DataFrame = {

    // Key-block fan-out: partitioning the triangular self-join on the window
    // alone puts ONE task in charge of a whole window's O(keys²) pair space —
    // at 10k keys that is 5×10⁷ Pearson evaluations on a single core, and
    // fewer/larger windows idle the rest of the cluster. Bucketing keys into
    // B blocks and joining on the block-pair cell (w, lo, hi), lo ≤ hi,
    // spreads each window over B(B+1)/2 independently-schedulable cells —
    // the Spark-native form of the reference's 20-way partition fan-out
    // (`WorkPacketUtils.getMyPartitions:39-45`,
    // `CreatePartitionWorkPacketsDoFn.java:84`), as join keys instead of a
    // post-hoc hash filter. Each side replicates (B+1)/2× on average (compact
    // array rows), the pair space still never shuffles.
    //
    // Cell coverage: a row in block v enters the a-side of every cell
    // (v, hi ≥ v) and the b-side of every cell (lo ≤ v, v), so pair {x, y}
    // meets in exactly the cell (min(bx,by), max(bx,by)) — with a.key<b.key
    // breaking the tie on the diagonal. The a/b orientation is block-driven,
    // so key1/key2 are re-canonicalized with least/greatest below.
    val b = math.max(1, keyBlocks)
    val blk = pmod(hash(col("key")), lit(b))
    val aSide = slim.withColumn("__blk", blk)
      .withColumn("__hi", explode(sequence(col("__blk"), lit(b - 1))))
    val bSide = slim.withColumn("__blk", blk)
      .withColumn("__lo", explode(sequence(lit(0), col("__blk"))))
    val joined = aSide.as("a").join(bSide.as("b"),
      col("a.w") === col("b.w") &&
        col("a.__blk") === col("b.__lo") && col("a.__hi") === col("b.__blk") &&
        (col("a.__blk") < col("b.__blk") || col("a.key") < col("b.key")))

    // ONE key comparison per pair: every orientation-dependent output column
    // is a `when(aIsFirst, ...)` over the SAME LessThan subtree, which
    // whole-stage codegen's subexpression elimination evaluates once —
    // the previous least/greatest(key) forms each embedded their own
    // comparison, so every emitted pair paid ~4 UTF8String compares.
    // For non-null inputs least(a,b) ≡ when(a < b, a).otherwise(b) and
    // greatest(a,b) ≡ when(a < b, b).otherwise(a); join keys are non-null.
    // (A packed numeric key surrogate for this compare was A/B-measured at
    // parity — short-key UTF8 compares are not the bottleneck — and
    // reverted; so was a shuffled-hash-join hint for the cell join.)
    val aIsFirst = col("a.key") < col("b.key")
    def pick(first: Boolean, c: String => Column): Column =
      if (first) when(aIsFirst, c("a")).otherwise(c("b"))
      else when(aIsFirst, c("b")).otherwise(c("a"))

    // inline(array(...)) unpacks the result struct through a Generate node —
    // an optimizer barrier that pins PearsonAligned to exactly ONE evaluation
    // per pair. Plain struct-field projection lets CollapseProject and
    // predicate pushdown inline the whole O(merge) expression once per
    // reference (r appears in the NaN policy, the threshold filter and the
    // output; n in the pair filter) — measured ~2.5× slower at sf0.1.
    // Pearson is symmetric (bit-exact under operand swap: the merge order is
    // by timestamp either way), so the block-driven a/b orientation is safe.
    val paired = joined
      .select(Seq(
        col("a.w").as("w"),
        pick(first = true, s => col(s + ".key")).as("key1"),
        pick(first = false, s => col(s + ".key")).as("key2"),
        // pre-alignment per-series point counts, reference `Correlation`
        // fields xCount/yCount (`src/TimeSeriesProtos.proto:94-104`,
        // `ComputeCorrelationsDoFn.java:183-199`)
        pick(first = true, s => col(s + ".nPts")).as("xCount"),
        pick(first = false, s => col(s + ".nPts")).as("yCount")) ++
        // underlying payload as the parallel tss/rets arrays the join
        // already carries for the Pearson kernel — not a third struct-array
        // copy of the series (guide §2.3; consumers rebuild per-point rows
        // from the pair)
        (if (includeUnderlying)
          Seq(pick(first = true, s => col(s + ".tss")).as("xTss"),
            pick(first = true, s => col(s + ".rets")).as("xRets"),
            pick(first = false, s => col(s + ".tss")).as("yTss"),
            pick(first = false, s => col(s + ".rets")).as("yRets"))
         else Nil) ++
        Seq(inline(array(
          PearsonAligned(col("a.tss"), col("a.rets"), col("b.tss"), col("b.rets"))))): _*)
      .filter(col("n") >= 2)

    val policy =
      if (propagateNaN)
        paired.withColumn("isNaN", isnan(col("r")))
          .withColumn("r", when(col("isNaN"), lit(1.0)).otherwise(col("r")))
      else
        paired.filter(!isnan(col("r"))).withColumn("isNaN", lit(false))

    policy
      .filter(abs(col("r")) >= lit(minCorr))
      .select(Seq(
        col("w.start").as("windowStart"),
        col("w.end").as("windowEnd"),
        col("key1"), col("key2"),
        // key1 < key2 by construction, so the canonical label needs no
        // further least/greatest comparison (pairLabel re-compares)
        concat_ws(" :: ", col("key1"), col("key2")).as("pair"),
        col("r").as("corr"), col("n"),
        col("xCount"), col("yCount"), col("isNaN")) ++
        (if (includeUnderlying)
          Seq(col("xTss"), col("xRets"), col("yTss"), col("yRets"))
         else Nil): _*)
  }

  /** NORMALIZED underlying output — the fact/dimension split of
    * `includeUnderlying = true`: slim pair rows (no arrays) plus the packet
    * relation emitted ONCE keyed by (window, key). The denormalized shape
    * duplicates each series' point array into every pair it joins — at K
    * live keys per window the same array ships ~K−1 times, and the measured
    * g1 scaling exponent (1.47) tracks that duplicated volume, not the
    * plan. Here array bytes are linear in |packets| while the quadratic
    * pair term carries only scalars; a consumer joins
    * `(windowStart, key1|key2)` against the dimension when it needs the
    * points (the `fx_corr_underlying_norm` gate proves the join
    * reconstructs the denormalized payload exactly).
    *
    * Both relations derive from ONE pinned SLIM packet relation (same
    * cache contract as [[correlate]]); column shapes: pairs as
    * [[correlate]] without the underlying arrays, dimension
    * `(windowStart, windowEnd, key, tss, rets)` — the series as the
    * parallel primitive arrays the pair join itself shuffles, not the
    * struct-array `pts` copy (guide §2.3: the pin stopped encoding, and
    * the dimension join stopped shuffling, a third copy of every series).
    * With `propagateNaN = false` the dimension carries only sd-live
    * packets — exactly the keys that can appear in a pair.
    */
  def correlateNormalized(
      returns: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      minCorr: Double = 0.5,
      propagateNaN: Boolean = false,
      keyBlocks: Int = 8,
      cache: Boolean = true): (DataFrame, DataFrame) = {
    val pinned = pinnedSlim(packets(returns, windowSize, slide),
      propagateNaN, cache)
    val pairs = correlateSlim(pinned, minCorr, propagateNaN,
      includeUnderlying = false, keyBlocks = keyBlocks)
    val dim = pinned.select(col("w.start").as("windowStart"),
      col("w.end").as("windowEnd"), col("key"), col("tss"), col("rets"))
    (pairs, dim)
  }

  /** Lead–lag CROSS-correlation: corr(ret_a(t), ret_b(t + lag)) per ORDERED
    * key pair over the whole series — "does A's move now predict B's move
    * next interval". The directional complement of the contemporaneous
    * [[correlate]]: the pair relation is ordered (lead_key, lag_key)
    * because corr(A→B) ≠ corr(B→A) under a shift.
    *
    * Packet-shaped, like [[correlatePackets]] with one global window: each
    * key's whole series pivots into ONE compact array row (the lag side
    * with its timestamps pre-shifted back by `lag`), the pivoted lag
    * relation — |keys| rows regardless of corpus size — BROADCASTS, and
    * every ordered pair evaluates the codegen [[PearsonAligned]] two-
    * pointer merge map-side inside the join projection. The |keys|² pair
    * space exists only inside whole-stage codegen; the only exchanges are
    * the two pivot groupBys and a repartition of the |keys|-row lead side
    * for core balance. The naive alternative — equi-join on ts, then
    * groupBy pair — shuffles |keys|²·|ts| point rows (measured 273 s at
    * sf0.1 where this shape runs in seconds). Past broadcast scale
    * (millions of keys), fall back to the key-block cell join of
    * [[correlatePackets]]; series length is bounded by the candle
    * resolution, not tick volume.
    */
  def laggedCorrelate(returns: DataFrame, lag: String = "1 hour",
      minPoints: Int = 8): DataFrame = {
    val r = returns.filter(col("ret").isNotNull)
    def pivot(keyName: String, shifted: Boolean) = {
      val ts = if (shifted) col("ts") - expr(s"INTERVAL $lag") else col("ts")
      r.groupBy(col("key").as(keyName))
        .agg(sort_array(collect_list(struct(unix_micros(ts).as("t"),
          col("ret").as("v")))).as("pts"))
        .select(col(keyName),
          transform(col("pts"), p => p.getField("t")).as(s"${keyName}_tss"),
          transform(col("pts"), p => p.getField("v")).as(s"${keyName}_rets"))
    }
    pivot("lead_key", shifted = false)
      .repartition(col("lead_key")) // spread the pair fan-out across cores
      .join(broadcast(pivot("lag_key", shifted = true)),
        col("lead_key") =!= col("lag_key"))
      // inline(array(...)) pins the O(merge) kernel to ONE evaluation per
      // pair (the correlatePackets optimizer-barrier trick)
      .select(col("lead_key"), col("lag_key"),
        inline(array(PearsonAligned(col("lead_key_tss"), col("lead_key_rets"),
          col("lag_key_tss"), col("lag_key_rets")))))
      .filter(col("n") >= minPoints && !isnan(col("r")))
      .select(col("lead_key"), col("lag_key"),
        round(col("r"), 6).as("lag_corr"), col("n"))
  }

  /** Lag-`lag` AUTOCORRELATION per key: corr(ret(t), ret(t + lag)) of a
    * series against itself — the mean-reversion/momentum diagnostic
    * (significantly negative ⇒ reverting at that horizon, positive ⇒
    * trending). Same one-equi-join shape as [[laggedCorrelate]] restricted
    * to the diagonal: the join keys on (key, ts), so each key's pairs stay
    * in that key's hash partition and the output is |keys| rows.
    */
  def autoCorrelate(returns: DataFrame, lag: String = "1 hour",
      minPoints: Int = 8): DataFrame = {
    val r = returns.filter(col("ret").isNotNull)
    val lead = r.select(col("key"), col("ts"), col("ret").as("lead_ret"))
    val lagged = r.select(col("key"),
      (col("ts") - expr(s"INTERVAL $lag")).as("ts"), col("ret").as("lag_ret"))
    lead.join(lagged, Seq("key", "ts"))
      .groupBy(col("key"))
      .agg(covar_samp(col("lead_ret"), col("lag_ret")).as("cv"),
        stddev_samp(col("lead_ret")).as("sx"),
        stddev_samp(col("lag_ret")).as("sy"),
        count(lit(1)).as("n"))
      .withColumn("acf0",
        when(col("sx") > 0 && col("sy") > 0,
          col("cv") / (col("sx") * col("sy"))))
      .filter(col("n") >= minPoints && col("acf0").isNotNull)
      .select(col("key"), round(col("acf0"), 6).as("acf"), col("n"))
  }

  /** Per-key market BETA against a reference series: the OLS fit of each
    * key's returns on the reference key's timestamp-aligned returns —
    * slope = cov/var (scale-free, so sample vs population normalization
    * cancels), intercept from the means, r² = corr². The reference series
    * (default: the lexicographically-first key, so the choice is
    * data-driven and engine-reproducible) is one key's candles — a
    * broadcast-sized dimension at any corpus scale, so the alignment join
    * ships the reference to the data and the fact relation never shuffles:
    * one broadcast equi-join on ts, one groupBy(key) with map-side
    * partials. The 1-row min-key aggregate also broadcasts.
    */
  def betaToReference(returns: DataFrame, minPoints: Int = 8): DataFrame = {
    val r = returns.filter(col("ret").isNotNull)
    val refKey = r.agg(min(col("key")).as("__refKey"))
    val ref = r.join(broadcast(refKey), col("key") === col("__refKey"))
      .select(col("ts"), col("ret").as("ref_ret"), col("key").as("ref_key"))
    // division-free aggregates + guarded post-agg ratios (see
    // [[laggedCorrelate]]: ANSI corr()/unguarded division throws on
    // zero-variance groups, which constant carry-forward series produce)
    r.join(broadcast(ref), Seq("ts"))
      .filter(col("key") =!= col("ref_key"))
      .groupBy(col("key"), col("ref_key"))
      .agg(covar_samp(col("ret"), col("ref_ret")).as("cv"),
        var_samp(col("ref_ret")).as("vx"),
        stddev_samp(col("ret")).as("sy"),
        stddev_samp(col("ref_ret")).as("sx"),
        avg(col("ret")).as("my"), avg(col("ref_ret")).as("mx"),
        count(lit(1)).as("n"))
      .withColumn("beta0", when(col("vx") > 0, col("cv") / col("vx")))
      .withColumn("rho",
        when(col("sx") > 0 && col("sy") > 0,
          col("cv") / (col("sx") * col("sy"))))
      .filter(col("n") >= minPoints && col("beta0").isNotNull)
      .select(col("key"), col("ref_key"),
        round(col("beta0"), 6).as("beta"),
        round(col("my") - col("beta0") * col("mx"), 9).as("alpha"),
        round(col("rho") * col("rho"), 6).as("r2"),
        col("n"))
  }

  /** PAIRS-TRADING SPREAD Z-SCORE against the reference series: the
    * cumulative aligned return difference `s_t = Σ_{u≤t}(ret − ref_ret)`
    * is the log price ratio vs the reference (γ=1 ratio spread), and its
    * per-key z-score is the classic mean-reversion entry/exit signal.
    *
    * Scale: the reference series broadcasts (one key); the prefix sum is
    * a per-key ts-ordered window — parallel across keys, sequential only
    * within one series, and both engines fold it in the same order so the
    * doubles are bit-identical (the fx_cusum precedent: return-scale
    * prefix sums keep FP noise orders below the rounding). Zero-variance
    * spreads (a key tracking the reference exactly) are filtered, not
    * divided by.
    */
  def spreadZScore(returns: DataFrame, minPoints: Int = 8): DataFrame = {
    val r = returns.filter(col("ret").isNotNull)
    val refKey = r.agg(min(col("key")).as("__refKey"))
    val ref = r.join(broadcast(refKey), col("key") === col("__refKey"))
      .select(col("ts"), col("ret").as("ref_ret"), col("key").as("ref_key"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("ts")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val s = r.join(broadcast(ref), Seq("ts"))
      .filter(col("key") =!= col("ref_key"))
      .withColumn("spread", sum(col("ret") - col("ref_ret")).over(wCum))
    val stats = s.groupBy(col("key").as("__k"))
      .agg(avg(col("spread")).as("__mu"),
        stddev_samp(col("spread")).as("__sd"), count(lit(1)).as("__n"))
    s.join(stats, col("key") === col("__k"))
      .filter(col("__n") >= minPoints && col("__sd") > 0)
      .select(col("key"), col("ref_key"), col("ts"),
        // + 0.0 normalizes IEEE -0.0 → +0.0 so the rounded output hashes
        // identically across engines (DuckDB's round keeps the sign bit).
        (round(col("spread"), 8) + lit(0.0)).as("spread"),
        (round((col("spread") - col("__mu")) / col("__sd"), 4) + lit(0.0)).as("z"))
  }

  /** Bounded-output mode for the all-pairs correlation: each (window, key)
    * keeps only its `k` strongest partners by |value| — the 100 TB answer
    * to the reference's own concern that the full pair emission is the
    * volume driver (its `minCorrValue` option,
    * `FXTimeSeriesPipelineOptions.java:45-52`, exists for exactly this; a
    * threshold bounds nothing when many pairs clear it, top-k does).
    *
    * Input is a pair relation (`windowStart, key1 < key2, <valueCol>, n`);
    * output is the symmetric per-key view, ≤ windows × keys × k rows
    * regardless of how correlated the universe is. Determinism: rank on the
    * ROUNDED value (callers round before calling, as the gates do) with a
    * total tie-break (value desc, partner asc), so cross-engine FP noise
    * cannot reorder the boundary.
    *
    * Scale shape: `row_number ≤ k` over (window, key) is planned with
    * Spark's WindowGroupLimit — each map task keeps a k-row heap per group
    * BEFORE the exchange, so the shuffle carries O(windows·keys·k), not the
    * full pair volume (plan-pinned by PlanSpec).
    */
  def topPartners(pairs: DataFrame, k: Int,
      valueCol: String = "r"): DataFrame = {
    val v = col(valueCol)
    // symmetrize in ONE pass over the pair relation — a union of two
    // projections would execute the whole upstream pair join once per
    // branch (measured 2.4× the single-pass gate cost at sf0.1)
    val sym = pairs.select(col("windowStart"), v, col("n"),
        explode(array(
          struct(col("key1").as("key"), col("key2").as("partner")),
          struct(col("key2").as("key"), col("key1").as("partner")))).as("kp"))
      .select(col("windowStart"), col("kp.key").as("key"),
        col("kp.partner").as("partner"), v, col("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("windowStart", "key")
      .orderBy(abs(v).desc, v.desc, col("partner"))
    sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("windowStart").as("wstart"), col("key"), col("partner"),
        v, col("n"), col("rnk").cast("long").as("rnk"))
  }

  /** The 100 TB form of [[topPartners]]: per-(window, key) top-k with NO
    * sort anywhere — (value, tiebreak) pack into ONE non-negative long
    * whose numeric order IS the rank order, and a k-slot codegen
    * HashAggregate ([[graft.functions.TopKPackedAgg]]) reduces each task's
    * share of the pair volume to k slots per group before the exchange.
    * [[topPartners]]' rank-filter does prune map-side too
    * (WindowGroupLimit), but only after a full local sort of the pair
    * volume — measured 2× the entire correlation kernel at the g1 tier
    * (15k keys); this form's tail is one linear codegen pass.
    *
    * The price of the packed order is a NUMERIC partner tiebreak: callers
    * supply `id1`/`id2`, dense non-negative ids < 2^40 for the two pair
    * keys (here the tick keys' own numeric suffix; at scale a dictionary
    * id — the standard trick for ranking on string vertices), and
    * `keyOfId` to map an id back to the key string. `valueCol` must be
    * rounded to ≤6 dp in [-1, 1] (the packing quantum).
    */
  def topPartnersPacked(pairs: DataFrame, k: Int, id1: Column, id2: Column,
      keyOfId: Column => Column, valueCol: String = "r"): DataFrame = {
    val v = col(valueCol)
    val idBits = 40
    val idMask = (1L << idBits) - 1
    // enforce the documented id contract: an id outside [0, 2^40) would
    // bleed into the packed value bits and silently corrupt rank order —
    // fail loudly instead (mirrors the aggregate's own negative-key guard).
    // Nulls pass through: a null id nulls the packed key, which the
    // aggregate's null-skip drops, same as any null input row.
    def checkedId(c: Column): Column = {
      val idc = c.cast("long")
      when(idc < 0 || idc > idMask,
        raise_error(concat(
          lit("topPartnersPacked: id out of [0, 2^40) — ids must be dense " +
            "non-negative (dictionary-encode string keys first); got "),
          idc.cast("string"))).cast("long"))
        .otherwise(idc)
    }
    // pack (|r| desc, r desc, partner-id asc) into one long:
    // [ r6·2+sign : 21 bits | ~pid : 40 bits ] — larger packed = better
    val sym = pairs.select(col("windowStart"), v.as("__r"), col("n"),
        explode(array(
          struct(checkedId(id1).as("id"), checkedId(id2).as("pid")),
          struct(checkedId(id2).as("id"), checkedId(id1).as("pid")))).as("kp"))
      .select(col("windowStart"), col("kp.id").as("id"),
        (shiftleft(round(abs(col("__r")) * 1e6).cast("long") * 2 +
          when(col("__r") >= 0, 1L).otherwise(0L), idBits) +
          (lit(idMask) - col("kp.pid"))).as("pk"),
        col("n").cast("long").as("pl"))
    val agg = sym.groupBy(col("windowStart"), col("id"))
      .agg(graft.functions.TopKPackedAgg(col("pk"), col("pl"), k).as("top"))
    val hi = shiftright(col("s.pk"), idBits)
    agg.select(col("windowStart").as("wstart"), col("id"),
        posexplode(col("top")).as(Seq("pos", "s")))
      .filter(col("s.pk") >= 0)
      .select(col("wstart"), keyOfId(col("id")).as("key"),
        keyOfId(lit(idMask) - col("s.pk").bitwiseAND(lit(idMask))).as("partner"),
        // decode: r6·2+sign in the high bits; +0.0 normalizes the
        // sign·zero case so no -0.0 can surface
        ((when(hi.bitwiseAND(lit(1L)) === 1L, 1.0).otherwise(-1.0) *
          shiftright(hi, 1).cast("double") / 1e6) + lit(0.0)).as("r"),
        col("s.pl").as("n"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** [[topPartnersPacked]] for STRING keys via a dictionary relation
    * `(key, id)` — ids dense non-negative in key sort order (what
    * [[Ranking.dictionaryIds]] produces), so the packed NUMERIC partner
    * tiebreak decodes to partner-STRING-ascending rank order: exactly
    * [[topPartners]]' tie rule, now through the sort-free packed
    * aggregate (equality pinned by FoldExprSpec). This closes the id
    * contract the packed form leaves to callers: real string universes
    * rank through a real dictionary, and the 2^40 guard composes with it
    * (an id past the budget still fails loudly inside the packing).
    *
    * The dictionary is vocabulary-sized (one row per instrument/term), so
    * the two encode joins and two decode joins all broadcast; the pair
    * volume itself never shuffles for them.
    *
    * The dictionary MUST cover every key1/key2 value in `pairs`: the
    * encode joins are left joins with a per-row null check that raises
    * (naming the missing key) instead of silently dropping the pair —
    * the same fail-loudly posture as the 2^40 id-budget guard this
    * composes with. The decode joins stay inner: they look up ids the
    * encode step itself produced, so a miss there is impossible.
    */
  def topPartnersPackedDict(pairs: DataFrame, k: Int, dict: DataFrame,
      valueCol: String = "r"): DataFrame = {
    def d(kAs: String, iAs: String) = broadcast(dict.select(
      col("key").cast("string").as(kAs), col("id").cast("long").as(iAs)))
    def req(idc: Column, keyc: Column): Column = when(idc.isNull,
      raise_error(concat(
        lit("topPartnersPackedDict: key absent from dictionary: "), keyc))
        .cast("long")).otherwise(idc)
    val enc = pairs.join(d("key1", "__id1"), Seq("key1"), "left")
      .join(d("key2", "__id2"), Seq("key2"), "left")
      .withColumn("__id1", req(col("__id1"), col("key1")))
      .withColumn("__id2", req(col("__id2"), col("key2")))
    // keyOfId = identity: the packed output carries raw ids, decoded back
    // to key strings by the joins below (a dictionary has no inverse
    // EXPRESSION — the inverse is the relation itself)
    val packed = topPartnersPacked(enc, k, col("__id1"), col("__id2"),
      identity, valueCol)
    packed.join(d("__kk", "__ki"), col("key") === col("__ki"))
      .join(d("__pk", "__pi"), col("partner") === col("__pi"))
      .select(col("wstart"), col("__kk").as("key"), col("__pk").as("partner"),
        col("r"), col("n"), col("rnk"))
  }

  /** BOUNDED underlying payload — the production form of the reference's
    * `includeUnderlying` (`ComputeCorrelationsDoFn.java:197-200`): attach
    * the per-(window, key) point series ONLY to each key's top-k partner
    * edges, instead of to EVERY pair clearing the threshold. The full
    * emission duplicates each series into every surviving pair — array
    * bytes quadratic in live keys, the measured super-linear tail
    * (g-exp 1.47) of the fx_corr_underlying gates; here the edge set is
    * already bounded (≤ windows × keys × k from [[topPartnersPacked]]), so
    * array bytes are O(windows · keys · k · |series|).
    *
    * `topk` is [[topPartnersPacked]] output; `dim` is the packet dimension
    * from [[correlateNormalized]]. Output: one row per (edge, side) with
    * the side's full series as the parallel `tss`/`rets` arrays — side
    * `x` = the key's own series, `y` = the partner's, both unfolded from
    * ONE pass over the bounded edge relation (2-element side-array
    * explode) through ONE dimension join, so the linear-sized dimension
    * shuffles exactly once.
    */
  def topPartnersUnderlying(topk: DataFrame, dim: DataFrame): DataFrame = {
    val d = dim.select(col("windowStart").as("__ws"), col("key").as("__k"),
      col("tss"), col("rets"))
    topk.select(col("wstart"), col("key"), col("partner"), col("r"),
        col("n"), col("rnk"),
        explode(array(
          struct(lit("x").as("side"), col("key").as("probe")),
          struct(lit("y").as("side"), col("partner").as("probe")))).as("sp"))
      .select(col("wstart"), col("key"), col("partner"), col("r"), col("n"),
        col("rnk"), col("sp.side").as("side"), col("sp.probe").as("__probe"))
      .join(d, col("__ws") === col("wstart") && col("__k") === col("__probe"))
      .select(col("wstart"), col("key"), col("partner"), col("r"), col("n"),
        col("rnk"), col("side"), col("tss"), col("rets"))
  }

  /** Candles → correlations, the reference demo's STEP 4+5 composed. */
  def fromCandles(
      candles: DataFrame,
      windowSize: String = "600 seconds",
      slide: String = "300 seconds",
      minCorr: Double = 0.5,
      propagateNaN: Boolean = false,
      includeUnderlying: Boolean = false,
      keyBlocks: Int = 8,
      cache: Boolean = true): DataFrame =
    correlate(logReturns(candles), windowSize, slide, minCorr, propagateNaN,
      includeUnderlying, keyBlocks, cache)
}
