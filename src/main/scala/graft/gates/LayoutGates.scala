package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Layout, Packing, Ranking, Sampling, TextAnalysis}
import graft.sources.{IO, Tables}

/** Storage layout, IO, sampling and packing gates: z-order, zone maps,
  * bloom filters, partition pruning, samplers, mixtures and sequence packing.
  */
object LayoutGates {

  /** Mirrors Sampling.mixture's all-integer thresholds: T = min_i
    * (n_i*1000 // w_i), k_i = w_i*T // 1000, accept iff hash < k_i*10^6
    * // n_i — integer ops only, so the row set is engine-exact. Shared by
    * the batch gate and its streaming replay twin (same accepted set by
    * construction: membership is row-local given the thresholds).
    */
  private[gates] val duckMixtureSql: String =
    """WITH s0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
      |s1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
      |s2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
      |c AS (SELECT (SELECT COUNT(*) FROM s0) AS n0,
      |             (SELECT COUNT(*) FROM s1) AS n1,
      |             (SELECT COUNT(*) FROM s2) AS n2),
      |t AS (SELECT n0, n1, n2,
      |        LEAST(n0*1000//600, n1*1000//300, n2*1000//100) AS tt FROM c),
      |th AS (SELECT ((600*tt//1000)*1000000)//n0 AS t0,
      |              ((300*tt//1000)*1000000)//n1 AS t1,
      |              ((100*tt//1000)*1000000)//n2 AS t2 FROM t)
      |SELECT 'c0' AS source, doc_id FROM s0, th
      |WHERE CAST(concat('0x', substr(md5('c0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t0
      |UNION ALL
      |SELECT 'c1' AS source, doc_id FROM s1, th
      |WHERE CAST(concat('0x', substr(md5('c1:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t1
      |UNION ALL
      |SELECT 'c2' AS source, doc_id FROM s2, th
      |WHERE CAST(concat('0x', substr(md5('c2:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < t2""".stripMargin

  /** Mirrors Packing.packSequences: global exclusive prefix sum of
    * n_tokens in doc_id order, then integer div/mod against the 2048
    * budget (the Spark side computes the same values via the two-level
    * distributed prefix sum — the oracle's single window is the spec).
    * Shared by the one-shot gate and the incremental-extension twin
    * (append-only increments in id order compose to the same manifest).
    */
  private val duckPackSql: String =
    """WITH t AS (SELECT doc_id,
      |  CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (SELECT doc_id, n_tokens,
      |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
      |      FROM t)
      |SELECT doc_id, n_tokens, tok_start,
      |       tok_start // 2048 AS seq_id,
      |       tok_start % 2048 AS seq_offset,
      |       (tok_start + GREATEST(n_tokens, 1) - 1) // 2048 - tok_start // 2048 + 1 AS spans
      |FROM p""".stripMargin

  /** Morton interleave + linear min/max quantizer, mirroring
    * [[graft.operators.Layout]] term-for-term (same IEEE-double expression
    * order, so z-values match bit-for-bit).
    */
  private val duckZorderSql: String = {
    val inter = (0 until 8).flatMap(i => Seq(
      s"(((qu >> $i) & 1) << ${2 * i})",
      s"(((qv >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
       |             min(cents) AS mnc, max(cents) AS mxc FROM e),
       |q AS (SELECT event_id,
       |  least(CAST(floor(CAST(user_id - mnu AS DOUBLE) * 255.0 /
       |    CAST(mxu - mnu AS DOUBLE)) AS BIGINT), 255) AS qu,
       |  least(CAST(floor(CAST(cents - mnc AS DOUBLE) * 255.0 /
       |    CAST(mxc - mnc AS DOUBLE)) AS BIGINT), 255) AS qv
       |  FROM e, b)
       |SELECT event_id, $inter AS zval FROM q""".stripMargin
  }

  /** Zone-map replay: same z-values (shared interleave expression), blocks
    * = zval >> 8, per-block min/max boxes + the conjunctive overlap test.
    */
  private val duckZonemapSql: String = {
    val inter = (0 until 8).flatMap(i => Seq(
      s"(((qu >> $i) & 1) << ${2 * i})",
      s"(((qv >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
    s"""WITH e AS (SELECT event_id, user_id,
       |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
       |b AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
       |             min(cents) AS mnc, max(cents) AS mxc FROM e),
       |q AS (SELECT event_id, user_id, cents,
       |  least(CAST(floor(CAST(user_id - mnu AS DOUBLE) * 255.0 /
       |    CAST(mxu - mnu AS DOUBLE)) AS BIGINT), 255) AS qu,
       |  least(CAST(floor(CAST(cents - mnc AS DOUBLE) * 255.0 /
       |    CAST(mxc - mnc AS DOUBLE)) AS BIGINT), 255) AS qv
       |  FROM e, b),
       |z AS (SELECT event_id, user_id, cents, ($inter) >> 8 AS block FROM q),
       |zm AS (SELECT block, count(*) AS n_rows,
       |         min(user_id) AS mn_user_id, max(user_id) AS mx_user_id,
       |         min(cents) AS mn_cents, max(cents) AS mx_cents
       |       FROM z GROUP BY block)
       |SELECT block, n_rows, mn_user_id, mx_user_id, mn_cents, mx_cents,
       |       (mx_user_id >= 100 AND mn_user_id <= 120 AND
       |        mx_cents >= 0 AND mn_cents <= 5000) AS scanned
       |FROM zm""".stripMargin
  }

  // ---------------------------------------------------------------- queries


  val gates: Seq[Gate] = Seq(
    // Schema-evolution read: two parquet generations (the second grew an
    // event_type column) union under mergeSchema into one scan; rows
    // from the pre-evolution files surface the new column as null. The
    // aggregate proves values AND null-backfill both survive the merge.
    Gate("io_schema_evolution", (s, dir) => {
      val ev = Tables(s, dir, "events")
      val tmp = java.nio.file.Files.createTempDirectory("graft_evo").toString
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(tmp + "/gen1")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("overwrite").parquet(tmp + "/gen2")
      IO.readParquetMerged(s, Seq(tmp + "/gen1", tmp + "/gen2"))
        .groupBy(coalesce(col("event_type"), lit("__pre_evolution__"))
          .as("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
    },
      """SELECT CASE WHEN event_id % 2 = 0 THEN '__pre_evolution__'
        |            ELSE event_type END AS event_type,
        |       count(*) AS n, round(sum(value), 4) AS sum_v
        |FROM events GROUP BY 1""".stripMargin),

    // Zone-map MAINTENANCE under append: the day-16 commit's delta
    // ledger folds into the standing one (counts add, mins min, maxes
    // max) — merged stats must equal a full-table rebuild exactly.
    Gate("layout_zonemap_merge", (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(floor(col("event_id") / 1000).cast("long").as("block"),
          col("ts"), col("user_id"), col("value"))
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      Layout.zoneMapMerge(
        Seq(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
          .map(d => Layout.zoneMap(d, col("block"),
            Seq("user_id", "value"))),
        Seq("user_id", "value"))
    },
      """SELECT CAST(floor(event_id / 1000) AS BIGINT) AS block,
        |       count(*) AS n_rows,
        |       min(user_id) AS mn_user_id, max(user_id) AS mx_user_id,
        |       min(value) AS mn_value, max(value) AS mx_value
        |FROM events GROUP BY 1""".stripMargin),

    // Per-block BLOOM INDEX: zonemap's point-lookup companion — k
    // arithmetic hash positions per row, one hash agg to the
    // metadata-sized ledger, then five probe keys broadcast against it.
    // Candidates must cover every true block (no false negatives);
    // the gate emits both counts so the FP margin is visible.
    Gate("layout_bloom", (s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select(floor(col("event_id") / 1000).cast("long").as("block"),
          col("user_id"))
      val ledger = Layout.bloomLedger(ev, col("block"), col("user_id"),
        mBits = 8192)
      val probes = Seq(0L, 7L, 42L, 123L, 999L).toDF("probe_key")
      val cand = Layout.bloomProbe(ledger,
        probes.withColumnRenamed("probe_key", "user_id"), "user_id",
        mBits = 8192)
        .withColumnRenamed("user_id", "probe_key")
      val truth = ev.join(probes, ev("user_id") === probes("probe_key"))
        .groupBy("probe_key")
        .agg(countDistinct(col("block")).as("n_true_blocks"))
      probes.join(cand, Seq("probe_key"), "left")
        .join(truth, Seq("probe_key"), "left")
        .na.fill(0L, Seq("n_candidate_blocks", "n_true_blocks"))
    },
      """WITH e AS (
        |  SELECT CAST(floor(event_id / 1000) AS BIGINT) AS block, user_id
        |  FROM events),
        |seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
        |bloom AS (
        |  SELECT block, list(DISTINCT
        |    ((user_id % 1000000007) * (31 + 2 * seed) + 1000003 * seed)
        |      % 1000000007 % 8192) AS bl
        |  FROM e CROSS JOIN seeds GROUP BY block),
        |probes AS (SELECT CAST(unnest([0, 7, 42, 123, 999]) AS BIGINT)
        |             AS probe_key),
        |pp AS (
        |  SELECT probe_key, list(
        |    ((probe_key % 1000000007) * (31 + 2 * seed) + 1000003 * seed)
        |      % 1000000007 % 8192) AS ppos
        |  FROM probes CROSS JOIN seeds GROUP BY probe_key),
        |cand AS (
        |  SELECT probe_key, count(*) AS n_candidate_blocks
        |  FROM bloom CROSS JOIN pp WHERE list_has_all(bl, ppos)
        |  GROUP BY probe_key),
        |truth AS (
        |  SELECT probe_key, count(DISTINCT block) AS n_true_blocks
        |  FROM probes JOIN e ON user_id = probe_key GROUP BY probe_key)
        |SELECT p.probe_key,
        |       coalesce(cand.n_candidate_blocks, 0) AS n_candidate_blocks,
        |       coalesce(truth.n_true_blocks, 0) AS n_true_blocks
        |FROM probes p
        |LEFT JOIN cand ON p.probe_key = cand.probe_key
        |LEFT JOIN truth ON p.probe_key = truth.probe_key""".stripMargin),

    // Manifest-based TIME TRAVEL: two append commits (days 1-15, then
    // the rest), then an OPTIMIZE rewrite (v3 = v2 compacted into one
    // sorted file, manifest pointing only at the new file). Reading v1
    // AFTER later versions landed must see exactly the v1 files, and
    // the rewrite must be logically invisible (v3 row == v2 row) — the
    // immutable-manifest properties beneath Delta/Iceberg, here from
    // parquet + a JSON file list. Driver touches only metadata; each
    // scan reads precisely its manifest's files.
    Gate("layout_timetravel", (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
      val tmp = java.nio.file.Files.createTempDirectory("graft_tt").toString
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      Layout.commitVersion(ev.filter(col("ts") < cut), tmp, 1)
      Layout.commitVersion(ev.filter(col("ts") >= cut), tmp, 2)
      Layout.commitRewrite(
        Layout.readVersion(s, tmp, 2).sort("event_id").coalesce(1),
        tmp, 3)
      Seq(1, 2, 3).map { v =>
        Layout.readVersion(s, tmp, v).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 4).as("sum_v"))
          .select(lit(v).as("version"), col("n_rows"), col("n_users"),
            col("sum_v"))
      }.reduce(_.unionAll(_))
    },
      """SELECT 1 AS version, count(*) AS n_rows,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 4) AS sum_v
        |FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
        |UNION ALL
        |SELECT 2, count(*), count(DISTINCT user_id), round(sum(value), 4)
        |FROM events
        |UNION ALL
        |SELECT 3, count(*), count(DISTINCT user_id), round(sum(value), 4)
        |FROM events""".stripMargin),

    // Z-order layout: quantize (user_id, cents) to 8 bits each, interleave
    // into the Morton curve position, range-cluster on it — the
    // multi-dimension prunable-layout story; the oracle reproduces every
    // z-value bit-for-bit.
    Gate("layout_zorder", (s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).as("cents"))
      Layout.zOrder(e, Seq("user_id", "cents"), bits = 8)
        .select(col("event_id"), col("zval"))
    },
      duckZorderSql),

    // Zone-map ledger over the z-ordered layout (256-block z-curve
    // segments): per-block min/max boxes + the planner's overlap test
    // for a 2-column range predicate — the rows with scanned=false are
    // the I/O a 100 TB scan skips without opening a file.
    Gate("layout_zonemap", (s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).as("cents"))
      val z = Layout.zOrder(e, Seq("user_id", "cents"), bits = 8)
        .withColumn("block", shiftright(col("zval"), 8))
      Layout.pruneFlag(
          Layout.zoneMap(z, col("block"), Seq("user_id", "cents")),
          Seq(("user_id", 100L, 120L), ("cents", 0L, 5000L)))
        .select(col("block"), col("n_rows"),
          col("mn_user_id"), col("mx_user_id"),
          col("mn_cents"), col("mx_cents"), col("scanned"))
    },
      duckZonemapSql),

    // Compaction planning over a simulated file inventory (37
    // pseudo-files per source, sized by their docs' total chars):
    // next-fit packing into ~64 KB rewrite groups via a per-partition
    // prefix sum — the metadata-sized lakehouse maintenance pass.
    Gate("layout_compact", (s, dir) => {
      val inv = Tables(s, dir, "documents")
        .groupBy(col("source"), pmod(col("doc_id"), lit(37)).as("file_id"))
        .agg(sum(col("n_chars")).as("size_bytes"))
      Layout.compactionPlan(inv, "source", "file_id", "size_bytes",
          targetBytes = 65536L)
        .select(col("source"), col("file_id"), col("size_bytes"),
          col("grp"))
    },
      """WITH inv AS (
        |  SELECT source, doc_id % 37 AS file_id,
        |         CAST(sum(n_chars) AS BIGINT) AS size_bytes
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, file_id, size_bytes,
        |       CAST(floor(coalesce(sum(size_bytes) OVER (
        |         PARTITION BY source ORDER BY file_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |         / 65536) AS BIGINT) AS grp
        |FROM inv""".stripMargin),

    // Hive-style partition pruning: events written ONCE partitioned by
    // day, then a one-week slice aggregated per type. The day filter
    // prunes at planning time — the scan lists only 7 of the 30 day
    // directories (PlanSpec pins PartitionFilters on the relation), the
    // property that turns a 100 TB history scan into a week's files.
    Gate("layout_partition_prune", (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
      val part = Layout.partitionedPrepare(
        Tables(s, dir, "events").withColumn("day", to_date(col("ts"))),
        tmp, "day")
      part
        .filter(col("day") >= lit("2024-01-08") && col("day") < lit("2024-01-15"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
    },
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |  AND CAST(ts AS DATE) <  DATE '2024-01-15'
        |GROUP BY event_type""".stripMargin),

    // Bucketed co-located join: both sides written bucketBy(o_orderkey)
    // once, then the fact-fact join plans with ZERO exchanges (PlanSpec
    // asserts) — the one-time-layout-vs-every-run-shuffle trade.
    Gate("layout_bucketed", (s, dir) => {
      val orders = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"),
          col("l_extendedprice"))
      Layout.bucketedPrepare(orders, "graft_b_orders", "o_orderkey")
      Layout.bucketedPrepare(li, "graft_b_lineitem", "o_orderkey")
      Layout.bucketedJoin(s, "graft_b_orders", "graft_b_lineitem",
          "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    },
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |       round(sum(l.l_quantity), 2) AS sum_qty,
        |       round(sum(l.l_extendedprice), 2) AS sum_price
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1""".stripMargin),

    // Deterministic Bernoulli sample (10%): membership decided by the row
    // id's md5 — a pure zero-shuffle filter, reproducible on any engine,
    // any partitioning (Spark's own sample() is neither).
    Gate("sample_bernoulli", (s, dir) => {
      Sampling.bernoulli(Tables(s, dir, "events"), col("event_id"), 0.1)
        .select(col("event_id"), col("ts"), col("event_type"))
    },
      """SELECT event_id, ts, event_type FROM events
        |WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < 100000""".stripMargin),

    // Deterministic stratified sample: 5 smallest-hash events per type —
    // the balanced-subset / cluster-then-sample curation step.
    Gate("sample_stratified", (s, dir) => {
      Sampling.stratified(Tables(s, dir, "events"), Seq("event_type"),
          col("event_id"), k = 5)
        .select(col("event_type"), col("event_id"))
    },
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |                    event_id) AS rk
        |  FROM events) t
        |WHERE rk <= 5""".stripMargin),

    // Temperature-scaled mixture sampling (alpha = 0.7): per-source
    // accept rates ∝ n_s^alpha / n_s quantized to per-million md5
    // thresholds — the multilingual rebalancing trick as one filter-scan.
    Gate("sample_temperature", (s, dir) => {
      Sampling.temperatureSample(Tables(s, dir, "documents"), "source",
        col("doc_id"), alpha = 0.7, target = 200L)
    },
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |w AS (SELECT source, n_s, pow(n_s, 0.7) AS w0 FROM c),
        |t AS (SELECT sum(w0) AS wt FROM w),
        |r AS (
        |  SELECT source,
        |         least(1000000, CAST(round(200.0 * w0 / t.wt / n_s * 1000000)
        |           AS BIGINT)) AS thresh
        |  FROM w, t)
        |SELECT d.doc_id, d.source, r.thresh
        |FROM documents d JOIN r USING (source)
        |WHERE CAST(concat('0x', substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < r.thresh""".stripMargin),

    // Weighted sample without replacement (Efraimidis–Spirakis A-Res):
    // 100 docs with P(pick) ∝ n_chars, score −ln(md5-u)/w, selection by
    // TakeOrdered — deterministic where Spark's sampleBy is not.
    Gate("sample_weighted", (s, dir) => {
      Sampling.weightedTopK(Tables(s, dir, "documents"), col("doc_id"),
          col("n_chars"), k = 100)
        .select(col("doc_id"), col("n_chars"),
          round(col("es_score") * lit(1000.0), 9).as("es_mscore"))
    },
      """WITH b AS (
        |  SELECT doc_id, n_chars,
        |         (CAST(CAST(concat('0x', substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |            % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0),
        |s AS (SELECT doc_id, n_chars, -ln(u) / n_chars AS es FROM b)
        |SELECT doc_id, n_chars, round(es * 1000.0, 9) AS es_mscore
        |FROM s ORDER BY es, doc_id LIMIT 100""".stripMargin),

    // Deterministic train/val/test split (90/5/5): md5-bucket assignment,
    // row-local and growth-stable — a doc's split never changes as the
    // corpus grows, so the held-out set stays held out across re-runs.
    Gate("sample_split", (s, dir) => {
      Sampling.split(Tables(s, dir, "documents"), col("doc_id"),
          Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L))
        .select(col("doc_id"), col("split"))
    },
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |         % 1000000 AS bucket
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN bucket < 900000 THEN 'train'
        |            WHEN bucket < 950000 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b""".stripMargin),

    // Exact-size uniform sample: the 100 globally smallest md5(salt:id)
    // docs — fixed-size eval subset; plans as TakeOrderedAndProject
    // (per-partition local top-k, no global sort).
    Gate("sample_topk", (s, dir) => {
      Sampling.topKByHash(Tables(s, dir, "documents"), col("doc_id"), 100)
        .select(col("doc_id"))
    },
      // exact-k sample: order by the 60-bit md5-hex prefix (the md5Long
      // family every sampling oracle uses), id tie-break, take 100
      """SELECT doc_id FROM documents
        |ORDER BY CAST(concat('0x', substr(md5('topk:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |         doc_id
        |LIMIT 100""".stripMargin),

    // Leakage-safe split: the md5 bucket keys on the near-dup CLUSTER
    // representative (minhash pairs → components), so duplicate clusters
    // never straddle train/test — per-doc assignment otherwise leaks the
    // held-out set through near-copies. Unpaired docs key on their own id.
    Gate("sample_split_leakfree", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
      Sampling.splitLeakFree(docs, pairs,
          Seq("train" -> 900L, "val" -> 950L, "test" -> 1000L))
        .select(col("doc_id"), col("split_key"), col("split"))
    },
      // leak-free split: the recursive components CTE yields the cluster
      // label; the split bucket hashes coalesce(label, own id)
      ("WITH RECURSIVE " + DedupGates.duckMinhashCte +
        DedupGates.duckComponentsCte +
        """,
          |sk AS (
          |  SELECT d.doc_id, CAST(coalesce(l.comp, d.doc_id) AS BIGINT) AS split_key
          |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
          |b AS (
          |  SELECT doc_id, split_key,
          |         CAST(concat('0x', substr(md5('split:' || CAST(split_key AS VARCHAR)), 1, 15)) AS BIGINT)
          |         % 1000000 AS bucket
          |  FROM sk)
          |SELECT doc_id, split_key,
          |       CASE WHEN bucket < 900000 THEN 'train'
          |            WHEN bucket < 950000 THEN 'val'
          |            ELSE 'test' END AS split
          |FROM b""".stripMargin)),

    // Per-source quality quota: the top-25 docs per source by
    // (quality desc, id) — the over-represented-domain cap, run as the
    // salted two-stage tournament so no task sorts a whole hot source.
    Gate("quota_per_source", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val scored = TextAnalysis.quality(docs)
        .select(col("doc_id"), col("quality_score"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      Sampling.quotaPerGroup(scored, Seq("source"), col("quality_score"),
          col("doc_id"), k = 25, cells = 8)
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("rank").cast("long").as("rank"))
    },
      // per-source quota: the text_quality score formula, then a plain
      // per-source row_number — the salted tournament is plan shape only,
      // the result is the exact top-25
      """WITH t AS (
        |  SELECT doc_id, source, length(text) AS n_chars,
        |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, source, len(toks) AS n_tokens,
        |         CAST(len(list_filter(toks, w -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |           / greatest(len(toks), 1) AS stop_ratio,
        |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
        |  FROM t
        |), qs AS (
        |  SELECT doc_id, source,
        |         round(least(n_tokens / 20.0, 1.0) * 0.4
        |               + least(stop_ratio * 5.0, 1.0) * 0.3
        |               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
        |  FROM s)
        |SELECT doc_id, source, quality_score, rank FROM (
        |  SELECT doc_id, source, quality_score,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY quality_score DESC, doc_id) AS BIGINT) AS rank
        |  FROM qs) r
        |WHERE rank <= 25""".stripMargin),

    // Token-budget trim: the best ~10k-token sub-corpus by quality —
    // distributed global rank + two-level prefix sum, boundary doc
    // included (budget is a target, overflow ≤ 1 doc).
    Gate("sample_budget_trim", (s, dir) => {
      val scored = TextAnalysis.quality(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("quality_score"))
      Sampling.trimToTokenBudget(scored, budget = 10000L)
    },
      // budget trim: the pack_curriculum rank + running sum, filtered at
      // the 10k-token boundary (tok_start < budget keeps the crossing doc)
      """WITH q AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         round(least(len(toks) / 20.0, 1.0) * 0.4
        |               + least(CAST(len(list_filter(toks, w -> list_contains(
        |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
        |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
        |           6) AS quality_score
        |  FROM q),
        |r AS (
        |  SELECT doc_id, n_tokens, quality_score,
        |         CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rank
        |  FROM s),
        |p AS (SELECT doc_id, rank, n_tokens, quality_score,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rank
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |      FROM r)
        |SELECT doc_id, rank, n_tokens, tok_start, quality_score
        |FROM p WHERE tok_start < 10000""".stripMargin),

    // Deterministic weighted corpus mixture: three doc_id%3 slices mixed
    // to 60/30/10 per-mille targets by hash acceptance — all-integer
    // thresholds (engine-exact), zero shuffle, streaming-safe.
    Gate("sample_mixture", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      def slice(r: Int) = docs.filter(col("doc_id") % 3 === r)
      Sampling.mixture(
        Seq("c0" -> slice(0), "c1" -> slice(1), "c2" -> slice(2)),
        Seq(600L, 300L, 100L))
    },
      duckMixtureSql),

    // Sequence packing: documents concatenated in doc_id order and
    // chopped into 2048-token training sequences via the two-level
    // distributed prefix sum (no single-partition window) — per-doc
    // seq/offset/span assignment, all integer arithmetic.
    Gate("pack_sequences", (s, dir) => {
      Packing.packSequences(
        TextAnalysis.tokenStats(Tables(s, dir, "documents")), budget = 2048L)
    },
      duckPackSql),

    // Curriculum packing: rank docs by (quality desc, id) via the
    // distributed global rank (range sort + per-partition offsets — no
    // single-partition row_number), then pack in rank order. The dense
    // rank is exactly the id shape packSequences wants.
    Gate("pack_curriculum", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val ranked = Ranking.withGlobalRank(
        TextAnalysis.quality(docs)
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            col("quality_score")),
        Seq(col("quality_score").desc, col("doc_id")))
      val packed = Packing.packSequences(
        ranked.select(col("rank"), col("n_tokens")),
        budget = 2048L, idCol = "rank")
      packed.withColumnRenamed("doc_id", "rank")
        .join(ranked.select(col("doc_id"), col("rank")), "rank")
        .select(col("doc_id"), col("rank"), col("n_tokens"),
          col("tok_start"), col("seq_id"), col("seq_offset"), col("spans"))
    },
      // quality-ranked pack: the text_quality score formula, a dense rank
      // under (score desc, doc_id), then duckPackSql's arithmetic in rank
      // order
      """WITH q AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         round(least(len(toks) / 20.0, 1.0) * 0.4
        |               + least(CAST(len(list_filter(toks, w -> list_contains(
        |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
        |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
        |           6) AS quality_score
        |  FROM q),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) - 1 AS BIGINT) AS rank
        |  FROM s),
        |p AS (SELECT doc_id, rank, n_tokens,
        |        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY rank
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |      FROM r)
        |SELECT doc_id, rank, n_tokens, tok_start,
        |       tok_start // 2048 AS seq_id,
        |       tok_start % 2048 AS seq_offset,
        |       (tok_start + GREATEST(n_tokens, 1) - 1) // 2048 - tok_start // 2048 + 1 AS spans
        |FROM p""".stripMargin),

    // Incremental sequence packing: the corpus arrives in ascending
    // doc_id epochs; each epoch extends the manifest via packIncrement
    // with the carried (totalTokens, maxId) state — history is never
    // repacked, and the state is recovered from the manifest written so
    // far (Packing.packState), exercising the restart path. The composed
    // manifest equals the one-shot pack, so it shares pack_sequences'
    // oracle.
    Gate("pack_incremental", (s, dir) => {
      val docs = TextAnalysis.tokenStats(Tables(s, dir, "documents"))
        .select(col("doc_id").cast("long").as("doc_id"), col("n_tokens"))
      val b = docs.agg(min("doc_id"), max("doc_id")).head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val epochs = 4
      val span = math.max(1L, hi - lo + 1L)
      val sliceOf = (k: Int) => docs.filter(
        col("doc_id") >= lo + span * k / epochs &&
          col("doc_id") < lo + span * (k + 1) / epochs + (
            if (k == epochs - 1) 1L else 0L))
      (0 until epochs).foldLeft(Option.empty[DataFrame]) { (acc, k) =>
        val st = acc.map(Packing.packState)
          .getOrElse(Packing.PackState(0L, Long.MinValue))
        val m = Packing.packIncrement(sliceOf(k), budget = 2048L, st)
        Some(acc.map(_.unionByName(m)).getOrElse(m))
      }.get
    },
      // identical oracle: append-only id-ordered increments compose to the
      // one-shot manifest (EdgeCaseSpec pins pack(A)+incr(B) == pack(A∪B))
      duckPackSql),

    // Source-format fidelity: documents round-trip parquet → JSONL →
    // CSV → back through the library's own IO seam; the oracle is the
    // ORIGINAL table, so any quoting/escaping/type drift in the
    // non-columnar sources breaks the hash. (Adversarial payloads —
    // commas, quotes, newlines, unicode — are IOSpec's job.)
    Gate("io_roundtrip", (s, dir) => {
      val docs = Tables(s, dir, "documents").select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_io").toString
      docs.write.mode("overwrite").json(tmp + "/jsonl")
      val fromJson = IO.readJsonl(s, tmp + "/jsonl", docs.schema)
      IO.writeCsv(fromJson, tmp + "/csv")
      val fromCsv = IO.readCsv(s, tmp + "/csv", docs.schema)
      IO.writeOrc(fromCsv, tmp + "/orc")
      IO.readOrc(s, tmp + "/orc")
    },
      // round-trip fidelity: the oracle IS the original table
      "SELECT doc_id, text, lang, source, n_chars FROM documents")
  )
}
