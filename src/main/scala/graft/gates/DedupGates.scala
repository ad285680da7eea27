package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Behavior, Curation, Dedup, Packing, TextAnalysis}
import graft.sources.Tables

/** Corpus deduplication and curation gates over `documents`: exact,
  * n-gram, MinHash, SimHash and span dedup, survivors and the curation chain.
  */
object DedupGates {

  /** DuckDB mirror of [[Dedup.simHash]]: md5→60-bit packed fingerprint,
    * bit-exact with the Spark expression. Shared by the fingerprint and
    * pair-join gates.
    */
  private val duckSimhashCte: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |th AS (
      |  SELECT doc_id,
      |         CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u),
      |bits AS (
      |  SELECT doc_id, b,
      |         CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |              THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bit
      |  FROM th CROSS JOIN range(60) r(b) GROUP BY doc_id, b),
      |sim AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB mirror of [[Dedup.minHashLsh]] up through exact-Jaccard pairs
    * (`jacs`). No leading WITH — callers prefix `WITH ` or `WITH RECURSIVE `.
    */
  private[gates] val duckMinhashCte: String =
    """t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT id, sh FROM (
      |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
      |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
      |    FROM t) u
      |  WHERE len(string_split(sh, ' ')) = 3)
      |,
      |hs AS (
      |  SELECT DISTINCT id,
      |         CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
      |  FROM sh),
      |sig AS (
      |  SELECT id, i, min(((2 * i + 1) * h + 7919 * (i + 1)) % 2147483647) AS mh
      |  FROM hs CROSS JOIN range(32) r(i) GROUP BY id, i),
      |bands AS (
      |  SELECT id, i // 4 AS band,
      |         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
      |  FROM sig GROUP BY id, i // 4),
      |cand AS (
      |  SELECT DISTINCT a.id AS id1, b.id AS id2
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id1, b.id AS id2, count(*) AS i
      |  FROM sh a JOIN cand ON a.id = cand.id1
      |  JOIN sh b ON b.id = cand.id2 AND a.sh = b.sh
      |  GROUP BY 1, 2),
      |jacs AS (
      |  SELECT id1, id2,
      |         round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jac
      |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)""".stripMargin

  /** Span-excision oracle, shared verbatim by `dedup_excise` and its
    * streaming twin `stream_excise` — the replay's per-epoch union must
    * equal the batch result exactly, so both gates check the same SQL.
    */
  private[gates] val duckExciseSql: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
      |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
      |  WHERE len(toks) >= 8),
      |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2),
      |occ AS (SELECT g.doc_id, g.pos,
      |        row_number() OVER (PARTITION BY g.k ORDER BY g.doc_id, g.pos) AS rn
      |        FROM g JOIN dup d ON g.k = d.k),
      |ex AS (SELECT doc_id, CAST(pos AS BIGINT) AS s, CAST(pos + 7 AS BIGINT) AS e FROM occ WHERE rn >= 2),
      |isl AS (SELECT doc_id, s, e,
      |        CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS brk
      |        FROM ex),
      |isl2 AS (SELECT doc_id, s, e, sum(brk) OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) AS grp FROM isl),
      |m AS (SELECT doc_id, min(s) AS rs, max(e) AS re FROM isl2 GROUP BY doc_id, grp),
      |rem AS (SELECT doc_id, CAST(sum(re - rs + 1) AS BIGINT) AS n_removed,
      |        list(struct_pack(rs := rs, re := re)) AS ivs FROM m GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |       coalesce(rem.n_removed, 0) AS n_removed,
      |       coalesce(array_to_string(
      |         CASE WHEN rem.n_removed IS NULL THEN toks
      |         ELSE list_transform(
      |            list_filter(range(len(toks)),
      |              i -> len(list_filter(rem.ivs, iv -> i >= iv.rs AND i <= iv.re)) = 0),
      |            i -> toks[i+1])
      |         END, ' '), '') AS text_clean
      |FROM t LEFT JOIN rem ON t.doc_id = rem.doc_id""".stripMargin

  /** Recursive connected-components suffix over [[duckMinhashCte]]'s `jacs`
    * pairs (append after it under `WITH RECURSIVE`): exposes `labels` =
    * (id, min reachable id). Shared by the components and survivors gates.
    */
  private[gates] val duckComponentsCte: String =
    """,
      |cc_pairs AS (SELECT id1, id2 FROM jacs WHERE jac >= 0.5),
      |edges AS (
      |  SELECT id1 AS src, id2 AS dst FROM cc_pairs
      |  UNION SELECT id2, id1 FROM cc_pairs),
      |reach(id, comp) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id),
      |labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id)""".stripMargin

  /** Corpus novelty scores — the oracle for `dedup_novelty` and its
    * streaming twin `stream_novelty`.
    */
  private[gates] val duckNoveltySql: String =
    """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |g AS (
      |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
      |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
      |  WHERE len(toks) >= 8),
      |f AS (SELECT k, min(doc_id) AS first_doc FROM g GROUP BY k)
      |SELECT g.doc_id, count(*) AS n_pos,
      |       CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_pos,
      |       round((count(*) - sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END))
      |             / CAST(count(*) AS DOUBLE), 6) AS novelty
      |FROM g JOIN f USING (k)
      |GROUP BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Telemetry double-fire filter: drop events whose same-(user,type)
    // predecessor is closer than 10 minutes — one lag over a per-key
    // sort, one timestamp of state per key.
    Gate("dedup_window", (s, dir) => {
      Behavior.windowDedup(Tables(s, dir, "events"),
          Seq("user_id", "event_type"), windowSec = 600)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
    },
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, ts,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts FROM t
        |WHERE prev IS NULL OR epoch_us(ts) - prev >= 600000000""".stripMargin),

    // URL-canonicalization dedup — the first dedup key of a web-crawl
    // corpus. The corpus is synthetic (no URL column), so the query
    // derives a deterministic messy URL per doc_id exercising every
    // canonicalization rule (case, www., default port, trailing slash,
    // utm params, param order, fragments); DuckDB replays the same
    // derivation against a regexp-based canonicalizer. Row-local
    // parse_url projection + ONE hash aggregate.
    Gate("dedup_url", (s, dir) => {
      val url = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://"))
          .otherwise(lit("http://")),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.Example.COM"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("example.com"))
          .otherwise(lit("Example.Com")),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(":80"))
          .otherwise(lit("")),
        lit("/docs/"), pmod(col("doc_id"), lit(50)).cast("string"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("/?utm_source=feed&b=2&a=1"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit("?a=1&b=2"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit("/"))
          .otherwise(lit("#frag")))
      TextAnalysis.urlDupGroups(
        Tables(s, dir, "documents").select(col("doc_id"))
          .withColumn("url", url), "url")
    },
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.Example.COM'
        |             WHEN doc_id % 3 = 1 THEN 'example.com'
        |             ELSE 'Example.Com' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
        |    || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/?utm_source=feed&b=2&a=1'
        |             WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
        |             WHEN doc_id % 4 = 2 THEN '/'
        |             ELSE '#frag' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))
        |      AS scheme,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
        |    regexp_extract(url,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS rawq
        |  FROM u),
        |c AS (
        |  SELECT doc_id,
        |    scheme || '://'
        |    || regexp_replace(lower(regexp_replace(hostport, ':\d+$', '')),
        |                      '^www\.', '')
        |    || (CASE WHEN regexp_extract(hostport, ':(\d+)$', 1) = ''
        |               OR (scheme = 'http'
        |                   AND regexp_extract(hostport, ':(\d+)$', 1) = '80')
        |               OR (scheme = 'https'
        |                   AND regexp_extract(hostport, ':(\d+)$', 1) = '443')
        |             THEN ''
        |             ELSE ':' || regexp_extract(hostport, ':(\d+)$', 1) END)
        |    || regexp_replace(rawpath, '/+$', '')
        |    || (CASE WHEN len(list_filter(string_split(rawq, '&'),
        |                 x -> len(x) > 0 AND NOT starts_with(x, 'utm_')
        |                      AND NOT starts_with(x, 'fbclid=')
        |                      AND NOT starts_with(x, 'gclid='))) > 0
        |             THEN '?' || array_to_string(list_sort(
        |               list_filter(string_split(rawq, '&'),
        |                 x -> len(x) > 0 AND NOT starts_with(x, 'utm_')
        |                      AND NOT starts_with(x, 'fbclid=')
        |                      AND NOT starts_with(x, 'gclid='))), '&')
        |             ELSE '' END) AS canon_url
        |  FROM p)
        |SELECT canon_url, count(*) AS n_urls, min(doc_id) AS keep_id
        |FROM c GROUP BY canon_url""".stripMargin),

    // Exact dedup: keep the earliest copy per logical event key.
    Gate("dedup_exact", (s, dir) => {
      Dedup.exact(Tables(s, dir, "events"),
          Seq("user_id", "event_type", "props"), "ts")
    },
      """SELECT user_id, event_type, props, min(ts) AS first_ts,
        |       count(*) AS n_copies
        |FROM events GROUP BY user_id, event_type, props""".stripMargin),

    // Canonical-normalization dedup. The synthetic corpus is already
    // canonical, so the gate would be vacuous on raw documents — instead
    // the query DE-canonicalizes first: a shifted-id copy of every doc
    // with a deterministic doc_id-keyed case/whitespace perturbation
    // (upper-case / doubled spaces + tab / tab-wrapped), unioned with the
    // originals. normalize() must fold each perturbed copy back onto its
    // original's canonical hash — every surviving group proves the
    // normalization, and DuckDB replays the identical perturbation.
    Gate("dedup_normalized", (s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val perturbed = docs.select(
        (col("doc_id") + lit(1000000L)).as("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, upper(col("text")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("  "), regexp_replace(col("text"), " ", "  "), lit("\t")))
          .otherwise(concat(lit("\t"), col("text"), lit(" ")))
          .as("text"))
      TextAnalysis.normalizedDupGroups(docs.unionByName(perturbed))
    },
      """WITH p AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN upper(text)
        |              WHEN doc_id % 3 = 1
        |                THEN '  ' || replace(text, ' ', '  ') || chr(9)
        |              ELSE chr(9) || text || ' ' END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |           '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash
        |  FROM p)
        |SELECT norm_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM n GROUP BY norm_hash HAVING count(*) >= 2""".stripMargin),

    // n-gram Jaccard near-dup via inverted shingle index, with the
    // hot-shingle document-frequency cap (candidates from shingles in
    // ≤ 5% of docs; exact Jaccard verified over full shingle sets).
    Gate("dedup_ngram", (s, dir) => {
      Dedup.ngramJaccard(Tables(s, dir, "documents"), minJaccard = 0.5,
        maxDocFrac = 0.05)
    },
      // mirrors the operator's hot-shingle cap: candidate pairs from
      // shingles with doc-frequency ≤ 0.05·|docs|, Jaccard over full sets
      """WITH
        |t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
        |    FROM t) u
        |  WHERE len(string_split(sh, ' ')) = 3)
        |,
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |cap AS (SELECT count(*) * 0.05 AS cap FROM documents),
        |rare AS (
        |  SELECT s.id, s.sh FROM sh s
        |  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) f ON s.sh = f.sh
        |  CROSS JOIN cap WHERE f.df <= cap.cap),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.id < b.id),
        |inter AS (
        |  SELECT c.id1, c.id2, count(*) AS i
        |  FROM sh x JOIN cand c ON x.id = c.id1
        |  JOIN sh y ON y.id = c.id2 AND x.sh = y.sh
        |  GROUP BY 1, 2),
        |jacs AS (
        |  SELECT id1, id2,
        |         round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 6) AS jac
        |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)
        |
        |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin),

    // Containment near-dup: |A∩B| / min(|A|,|B|) over the same inverted
    // index — catches subset/quotation pairs Jaccard structurally misses.
    Gate("dedup_containment", (s, dir) => {
      Dedup.ngramContainment(Tables(s, dir, "documents"),
        minContainment = 0.5, maxDocFrac = 0.05)
    },
      """WITH
        |t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |sh AS (
        |  SELECT DISTINCT id, sh FROM (
        |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
        |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
        |    FROM t) u
        |  WHERE len(string_split(sh, ' ')) = 3)
        |,
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |cap AS (SELECT count(*) * 0.05 AS cap FROM documents),
        |rare AS (
        |  SELECT s.id, s.sh FROM sh s
        |  JOIN (SELECT sh, count(*) AS df FROM sh GROUP BY sh) f ON s.sh = f.sh
        |  CROSS JOIN cap WHERE f.df <= cap.cap),
        |cand AS (
        |  SELECT DISTINCT a.id AS id1, b.id AS id2
        |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.id < b.id),
        |inter AS (
        |  SELECT c.id1, c.id2, count(*) AS i
        |  FROM sh x JOIN cand c ON x.id = c.id1
        |  JOIN sh y ON y.id = c.id2 AND x.sh = y.sh
        |  GROUP BY 1, 2),
        |conts AS (
        |  SELECT id1, id2, CAST(least(s1.sz, s2.sz) AS BIGINT) AS small_sz,
        |         round(CAST(i AS DOUBLE) / least(s1.sz, s2.sz), 6) AS containment
        |  FROM inter JOIN sizes s1 ON s1.id = id1 JOIN sizes s2 ON s2.id = id2)
        |
        |SELECT id1, id2, small_sz, containment FROM conts WHERE containment >= 0.5""".stripMargin),

    // MinHash(32) + LSH(8 bands × 4) candidates, exact-Jaccard verified.
    Gate("dedup_minhash", (s, dir) => {
      Dedup.minHashLsh(Tables(s, dir, "documents"), minJaccard = 0.5)
    },
      ("WITH " + duckMinhashCte +
        """
          |SELECT id1, id2, jac FROM jacs WHERE jac >= 0.5""".stripMargin)),

    // Same LSH candidates, EDIT-DISTANCE verified: order-sensitive
    // near-dup (Levenshtein ≤ 40% of the longer text) — the check the
    // set-based Jaccard verify structurally cannot express.
    Gate("dedup_editdist", (s, dir) => {
      Dedup.editDistancePairs(Tables(s, dir, "documents"), maxRel = 0.4)
    },
      // same band candidates, Levenshtein-verified (relative bound 0.4);
      // unreferenced CTEs of the shared prefix are pruned by the planner
      ("WITH " + duckMinhashCte +
        """,
          |txt AS (SELECT doc_id AS id, text FROM documents),
          |p AS (
          |  SELECT id1, id2, levenshtein(a.text, b.text) AS d,
          |         greatest(len(a.text), len(b.text)) AS l
          |  FROM cand JOIN txt a ON a.id = id1 JOIN txt b ON b.id = id2)
          |SELECT id1, id2, CAST(d AS BIGINT) AS dist,
          |       round(CAST(d AS DOUBLE) / l, 6) AS rel
          |FROM p WHERE d <= l * 0.4""".stripMargin)),

    // Connected components over the minhash near-dup pairs: every doc in
    // a duplicate cluster labeled with the cluster's smallest id.
    Gate("dedup_components", (s, dir) => {
      val pairs = Dedup.minHashLsh(Tables(s, dir, "documents"), minJaccard = 0.5)
      Dedup.components(pairs.select(col("id1"), col("id2")))
        .select(col("id").cast("long").as("doc_id"),
          col("comp").cast("long").as("comp"))
    },
      // connected components over the minhash near-dup pairs: min reachable
      // id per node via a recursive CTE (mirrors Dedup.components' min-label
      // propagation fixpoint)
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """
          |SELECT id AS doc_id, comp FROM labels""".stripMargin)),

    // End-to-end near-dup dedup: the corpus minus every non-representative
    // member of a minhash duplicate cluster (keep = smallest id).
    Gate("dedup_survivors", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
      Dedup.survivors(docs, pairs.select(col("id1"), col("id2")))
        .select(col("doc_id"))
    },
      // same recursive components CTE; survivors = corpus minus docs whose
      // cluster label differs from their own id
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)""".stripMargin)),

    // Quality-aware survivor selection: each near-dup cluster keeps its
    // highest-quality member, not its smallest id — the production
    // representative policy. max_by hash agg over the label relation.
    Gate("dedup_survivors_scored", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.minHashLsh(docs, minJaccard = 0.5)
      Dedup.survivorsByScore(docs, pairs.select(col("id1"), col("id2")),
          TextAnalysis.quality(docs))
        .select(col("doc_id"))
    },
      // quality-aware representative: per component the highest composite
      // score (id ascending on ties) survives; everyone else drops
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """,
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS qtoks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM documents
          |), qsc AS (
          |  SELECT doc_id,
          |         round(least(len(qtoks) / 20.0, 1.0) * 0.4
          |           + least((CAST(len(list_filter(qtoks, w -> list_contains(
          |               ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |               / greatest(len(qtoks), 1)) * 5.0, 1.0) * 0.3
          |           + (1.0 - least((CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10.0, 1.0)) * 0.3,
          |           6) AS s
          |  FROM qt
          |), mem AS (
          |  SELECT l.id, l.comp, q.s FROM labels l JOIN qsc q ON q.doc_id = l.id
          |), win AS (
          |  SELECT comp, id FROM (
          |    SELECT comp, id,
          |           row_number() OVER (PARTITION BY comp ORDER BY s DESC, id) AS rk
          |    FROM mem) x WHERE rk = 1
          |), losers AS (
          |  SELECT id FROM mem WHERE id NOT IN (SELECT id FROM win))
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT id FROM losers)""".stripMargin)),

    // END-TO-END curation: near-dup survivors → quality floor →
    // benchmark decontamination, composed in one pipeline (the
    // LLM-pipeline analog of fx_indicators' shared fan-out). Dedup runs
    // over the full pool; the % 97 slice doubles as the benchmark and is
    // excluded from the curated output (it is the eval set).
    Gate("corpus_curation", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Curation.curate(docs,
          docs.filter(col("doc_id") % 97 === 0)
            .withColumnRenamed("doc_id", "bench_id"))
        .filter(col("doc_id") % 97 =!= 0)
    },
      // survivors (minhash components) ∩ quality floor ∖ contaminated ∖
      // the benchmark slice itself. Contamination is computed over the full
      // pool rather than survivors only — the extra rows are dropped by the
      // survivor intersection, so the final set is identical
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id, len(toks) AS n_tokens,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND d.id % 97 <> 0 AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c)
          |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
          |FROM qs
          |WHERE quality_score >= 0.45
          |  AND doc_id % 97 <> 0
          |  AND doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin)),

    // Per-stage curation attrition: input → dedup → quality →
    // decontaminate counts off the SAME stage relations as the pipeline
    // (one private builder — the report cannot drift from the operator).
    Gate("curation_report", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Curation.report(docs,
        docs.filter(col("doc_id") % 97 === 0)
          .withColumnRenamed("doc_id", "bench_id"))
    },
      // same CTE chain as corpus_curation, reduced to per-stage counts
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |qual AS (SELECT doc_id FROM qs WHERE quality_score >= 0.45),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c),
          |fin AS (SELECT doc_id FROM qual WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          |n0 AS (SELECT count(*) AS n FROM documents),
          |n1 AS (SELECT count(*) AS n FROM surv),
          |n2 AS (SELECT count(*) AS n FROM qual),
          |n3 AS (SELECT count(*) AS n FROM fin)
          |SELECT 'input' AS stage, CAST(0 AS BIGINT) AS n_dropped,
          |       CAST(n AS BIGINT) AS n_remaining FROM n0
          |UNION ALL SELECT 'dedup', CAST((SELECT n FROM n0) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n1
          |UNION ALL SELECT 'quality', CAST((SELECT n FROM n1) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n2
          |UNION ALL SELECT 'decontaminate', CAST((SELECT n FROM n2) - n AS BIGINT),
          |       CAST(n AS BIGINT) FROM n3""".stripMargin)),

    // Cross-corpus near-dup: the "dedup the new crawl against the
    // training set" probe — even doc_ids as the corpus, odd as the
    // incoming batch; only cross pairs emit (batch form of the streaming
    // band-index probe).
    Gate("dedup_against", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Dedup.minHashLshAgainst(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        minJaccard = 0.3)
    },
      // cross-corpus probe: the all-pairs CTE filtered to cross-parity
      // pairs, normalized to (corpus id, incoming id) — the band collisions
      // found by corpus x incoming probing are exactly the cross-parity
      // subset of the triangular join
      ("WITH " + duckMinhashCte +
        """
          |SELECT CASE WHEN id1 % 2 = 0 THEN id1 ELSE id2 END AS id1,
          |       CASE WHEN id1 % 2 = 0 THEN id2 ELSE id1 END AS id2, jac
          |FROM jacs WHERE jac >= 0.3 AND (id1 % 2) <> (id2 % 2)""".stripMargin)),

    // The COMPLETE raw-corpus → training-manifest pipeline: curate
    // (near-dup survivors → quality floor → decontamination) then pack
    // the curated stream into 1024-token training sequences — the last
    // deterministic artifact before tensors.
    Gate("curation_packed", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val curated = Curation.curate(docs,
          docs.filter(col("doc_id") % 97 === 0)
            .withColumnRenamed("doc_id", "bench_id"))
        .filter(col("doc_id") % 97 =!= 0)
      Packing.packSequences(curated, budget = 1024L)
        .drop("n_tokens") // curated n_tokens already gated upstream
    },
      // the corpus_curation oracle's curated set, packed by the same
      // integer window arithmetic as the pack_sequences oracle
      ("WITH RECURSIVE " + duckMinhashCte +
        duckComponentsCte +
        """, surv AS (
          |  SELECT doc_id, text FROM documents
          |  WHERE doc_id NOT IN (SELECT id FROM labels WHERE comp <> id)),
          |qt AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
          |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
          |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
          |  FROM surv),
          |qs AS (
          |  SELECT doc_id, len(toks) AS n_tokens,
          |         round(least(len(toks) / 20.0, 1.0) * 0.4
          |               + least(CAST(len(list_filter(toks, w -> list_contains(
          |                   ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
          |                 / greatest(len(toks), 1) * 5.0, 1.0) * 0.3
          |               + (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) * 10.0, 1.0)) * 0.3,
          |           6) AS quality_score
          |  FROM qt),
          |contam AS (
          |  SELECT DISTINCT doc_id FROM (
          |    SELECT d.id AS doc_id, b.id AS bench_id, count(*) AS shared
          |    FROM sh d JOIN sh b ON d.sh = b.sh AND d.id % 97 <> 0 AND b.id % 97 = 0
          |    GROUP BY 1, 2 HAVING count(*) >= 2) c),
          |cur AS (
          |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality_score
          |  FROM qs
          |  WHERE quality_score >= 0.45
          |    AND doc_id % 97 <> 0
          |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
          |p AS (
          |  SELECT doc_id, n_tokens,
          |         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
          |  FROM cur)
          |SELECT doc_id, tok_start,
          |       tok_start // 1024 AS seq_id,
          |       tok_start % 1024 AS seq_offset,
          |       (tok_start + GREATEST(n_tokens, 1) - 1) // 1024 - tok_start // 1024 + 1 AS spans
          |FROM p""".stripMargin)),

    // 60-bit SimHash fingerprints (bit-exact across engines).
    Gate("dedup_simhash", (s, dir) => {
      Dedup.simHash(Tables(s, dir, "documents"))
        .select(col("id").as("doc_id"), col("simhash"))
    },
      (duckSimhashCte +
      """
        |SELECT doc_id, simhash FROM sim""".stripMargin)),

    // SimHash near-dup pairs: 4×15-bit chunk pigeonhole join, Hamming ≤ 3.
    Gate("dedup_simhash_pairs", (s, dir) => {
      Dedup.simHashPairs(Dedup.simHash(Tables(s, dir, "documents")))
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
    },
      (duckSimhashCte +
      """,
        |chunks AS (
        |  SELECT doc_id, simhash, c, (simhash >> CAST(c*15 AS INT)) & 32767 AS chunk
        |  FROM sim CROSS JOIN range(4) r(c)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
        |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |  FROM chunks a JOIN chunks b
        |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT id1, id2, hamming FROM cand WHERE hamming <= 3""".stripMargin)),

    // Positional duplicate-SPAN statistics (the distributed re-expression
    // of exact-substring dedup): per doc, how many 8-token positions are
    // duplicated anywhere in the corpus. Explode + hash agg + equi-join.
    Gate("dedup_spans", (s, dir) => {
      Dedup.duplicateSpans(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2)
        |SELECT g.doc_id, count(*) AS n_pos,
        |       CAST(sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pos,
        |       count(DISTINCT CASE WHEN d.k IS NOT NULL THEN g.k END) AS n_dup_ngrams,
        |       round(CAST(sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM g LEFT JOIN dup d ON g.k = d.k
        |GROUP BY 1""".stripMargin),

    // Maximal duplicated runs: consecutive duplicated positions collapsed
    // by gaps-and-islands — the substrings an excision pass would cut.
    Gate("dedup_span_runs", (s, dir) => {
      Dedup.duplicateSpanRuns(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, i AS pos, md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')) AS k
        |  FROM t, UNNEST(range(len(toks) - 8 + 1)) AS u(i)
        |  WHERE len(toks) >= 8),
        |dup AS (SELECT k FROM g GROUP BY k HAVING count(*) >= 2),
        |dp AS (SELECT g.doc_id, g.pos FROM g JOIN dup d ON g.k = d.k),
        |r AS (SELECT doc_id, pos,
        |             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM dp)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS run_start, count(*) AS n_grams,
        |       count(*) + 7 AS run_tokens
        |FROM r GROUP BY doc_id, grp""".stripMargin),

    // Corpus-order novelty: fraction of each doc's 8-token grams not
    // already present in any earlier (smaller-id) doc — the admission
    // signal for an append-only ingest. min-agg + equi-join, no sort.
    Gate("dedup_novelty", (s, dir) => {
      Dedup.corpusNovelty(Tables(s, dir, "documents"))
    },
      duckNoveltySql),

    // Span EXCISION: keep the corpus-first occurrence of every duplicated
    // 8-token span, cut the rest, emit cleaned text. Keep-first is a
    // skew-safe min(struct) hash agg, never a sort-rank.
    Gate("dedup_excise", (s, dir) => {
      Dedup.exciseDuplicateSpans(Tables(s, dir, "documents"))
    },
      duckExciseSql)
  )
}
