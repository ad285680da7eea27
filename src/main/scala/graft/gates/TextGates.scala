package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Profiling, Sketches, TextAnalysis}
import graft.sources.Tables

/** Text analysis gates over `documents`: tokens, chunks, term
  * statistics, quality, contamination, language id and subword models.
  */
object TextGates {

  /** Shared-trigram contamination oracle — used by both the broadcast gate
    * (`text_contamination`) and the Bloom-prefiltered shuffle-join gate
    * (`contamination_bloom`), whose outputs are identical by construction.
    */
  private val duckContaminationSql: String =
    """WITH t AS (SELECT doc_id AS id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
      |sh AS (
      |  SELECT DISTINCT id, sh FROM (
      |    SELECT id, unnest(list_transform(range(greatest(len(toks) - 3, 0) + 1),
      |        i -> array_to_string(list_slice(toks, i + 1, i + 3), ' '))) AS sh
      |    FROM t) u
      |  WHERE len(string_split(sh, ' ')) = 3),
      |d AS (SELECT id AS doc_id, sh FROM sh WHERE id % 97 <> 0),
      |b AS (SELECT id AS bench_id, sh FROM sh WHERE id % 97 = 0)
      |SELECT d.doc_id, b.bench_id, count(*) AS shared
      |FROM d JOIN b USING (sh)
      |GROUP BY 1, 2
      |HAVING count(*) >= 2""".stripMargin

  private val duckBpeSteps = 6

  /** WITH-body replaying [[graft.operators.Bpe.train]]'s merge loop,
    * unrolled one block per round (same style as [[AnnGates.duckAnnGraphCte]]):
    * count adjacent pairs weighted by word freq → 1-row argmax with the
    * (cnt desc, l, r) tie order → greedy non-overlapping merge. Greedy
    * left-to-right is replayed as islands-parity: consecutive match
    * positions (only possible when l = r) form an island, and exactly the
    * odd-ranked positions within each island are merge starts — provably
    * the fold [[graft.operators.Bpe.mergePair]] computes.
    */
  private val duckBpeCte: String = {
    def round(r: Int): String = {
      val p = r - 1
      s"""c$r AS MATERIALIZED (SELECT sym[i+1] AS l, sym[i+2] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
         |       FROM s$p, UNNEST(range(len(sym) - 1)) AS u(i) GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r2, cnt FROM c$r ORDER BY cnt DESC, l, r2 LIMIT 1),
         |e$r AS MATERIALIZED (SELECT w, freq, i AS pos, sym[i+1] AS s
         |       FROM s$p, UNNEST(range(len(sym))) AS u(i)),
         |f$r AS MATERIALIZED (SELECT w, freq, pos, s,
         |              lead(s) OVER (PARTITION BY w ORDER BY pos) AS nx
         |       FROM e$r),
         |h$r AS MATERIALIZED (SELECT *, CASE WHEN s = (SELECT l FROM b$r)
         |                        AND nx = (SELECT r2 FROM b$r)
         |                  THEN 1 ELSE 0 END AS mt FROM f$r),
         |g$r AS MATERIALIZED (SELECT w, pos,
         |              pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
         |       FROM h$r WHERE mt = 1),
         |k$r AS MATERIALIZED (SELECT w, pos FROM (
         |         SELECT w, pos, row_number() OVER (PARTITION BY w, isl ORDER BY pos) AS ri
         |         FROM g$r) WHERE ri % 2 = 1),
         |s$r AS MATERIALIZED (SELECT f.w, f.freq,
         |              list(CASE WHEN k.pos IS NOT NULL THEN f.s || f.nx ELSE f.s END ORDER BY f.pos) AS sym
         |       FROM h$r f LEFT JOIN k$r k ON f.w = k.w AND f.pos = k.pos
         |       WHERE NOT EXISTS (SELECT 1 FROM k$r kk WHERE kk.w = f.w AND kk.pos = f.pos - 1)
         |       GROUP BY f.w, f.freq)""".stripMargin
    }
    s"""words AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS sym FROM words),
       |${(1 to duckBpeSteps).map(round).mkString(",\n")}""".stripMargin
  }

  // each round's row appears only when its count clears minCount = 2 — at
  // the gated SFs every round does (the corpus vocabulary is Zipfian with
  // thousands of occurrences per word), so the two engines emit the same
  // 6-row model; exhaustion behavior itself is pinned by BpeSpec
  private val duckBpeSql: String =
    s"""WITH $duckBpeCte
       |${(1 to duckBpeSteps).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS step, l AS "left", r2 AS "right", cnt AS pair_count FROM b$r WHERE cnt >= 2""")
        .mkString("\nUNION ALL\n")}""".stripMargin

  private val duckBpeEncodeSql: String =
    s"""WITH $duckBpeCte
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS n
       |FROM s$duckBpeSteps, UNNEST(sym) AS t(piece)
       |GROUP BY 1""".stripMargin

  /** Sliding-window chunk replay: integer chunk-count arithmetic + token
    * slices re-joined with single spaces. Shared by the batch gate and its
    * streaming twin (row-local ⇒ identical output under replay).
    */
  private[gates] val duckChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |c AS (SELECT doc_id, toks, n,
      |        unnest(range((GREATEST(n - 64, 0) + 47) // 48 + 1)) AS chunk_id
      |      FROM n)
      |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
      |       LEAST(64, n - chunk_id * 48) AS n_tokens,
      |       array_to_string(list_slice(toks, chunk_id * 48 + 1,
      |         chunk_id * 48 + LEAST(64, n - chunk_id * 48)), ' ') AS chunk_text
      |FROM c""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Token statistics incl. a BPE-ish piece count.
    Gate("text_tokens", (s, dir) => {
      TextAnalysis.tokenStats(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_distinct").cast("long").as("n_distinct"),
          col("n_pieces").cast("long").as("n_pieces"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks, lower(text) AS lt FROM documents)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |       CAST(len(regexp_extract_all(lt, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_pieces
        |FROM t""".stripMargin),

    // Sliding-window chunking (64-token windows, stride 48): the
    // RAG/context-window prep stage — row-local transform + explode,
    // exact row set by integer arithmetic.
    Gate("text_chunks", (s, dir) => {
      TextAnalysis.chunk(Tables(s, dir, "documents"), width = 64, stride = 48)
    },
      // sliding-window chunks: same integer chunk-count arithmetic, token
      // slices re-joined with single spaces
      duckChunksSql),

    // Top-3 salient (non-stopword) terms per document.
    Gate("text_topterms", (s, dir) => {
      TextAnalysis.topTerms(Tables(s, dir, "documents"), k = 3)
        .select(col("doc_id"), col("tok"), col("n"),
          col("rk").cast("long").as("rk"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tok FROM t
        |  WHERE tok NOT IN ('the','a','an','and','of','to','in','is','it','that')),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM f GROUP BY doc_id, tok),
        |r AS (
        |  SELECT doc_id, tok, n,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, tok) AS rk
        |  FROM c)
        |SELECT doc_id, tok, n, rk FROM r WHERE rk <= 3""".stripMargin),

    // TF-IDF salient terms: the (doc, token) count agg feeds both tf and
    // df; idf and the corpus size broadcast back — corpus text is read
    // and shuffled exactly once.
    Gate("text_tfidf", (s, dir) => {
      TextAnalysis.tfIdf(Tables(s, dir, "documents"), k = 3)
        .select(col("doc_id"), col("tok"), col("n"), col("tfidf"),
          col("rk").cast("long").as("rk"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, tok FROM t
        |  WHERE tok NOT IN ('the','a','an','and','of','to','in','is','it','that')),
        |c AS (SELECT doc_id, tok, count(*) AS n FROM f GROUP BY doc_id, tok),
        |d AS (SELECT tok, count(*) AS df FROM c GROUP BY tok),
        |nn AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |s AS (
        |  SELECT c.doc_id, c.tok, c.n,
        |         round(c.n * (ln((nd + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM c JOIN d USING (tok) CROSS JOIN nn),
        |r AS (SELECT doc_id, tok, n, tfidf,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rk
        |      FROM s)
        |SELECT doc_id, tok, n, tfidf, rk FROM r WHERE rk <= 3""".stripMargin),

    // BM25 retrieval scoring against a fixed query term set: top-20
    // docs by Okapi relevance — tf saturation + length normalization.
    Gate("text_bm25", (s, dir) => {
      TextAnalysis.bm25(Tables(s, dir, "documents"),
          Seq("hash", "join", "vector"), k = 20)
        .select(col("doc_id"), col("n_terms"), col("bm25"),
          col("rk").cast("long").as("rk"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id),
        |st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
        |       WHERE tok IN ('hash', 'join', 'vector') GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |sc AS (
        |  SELECT tf.doc_id,
        |         ln(1.0 + (st.nd - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * (1.2 + 1.0)
        |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st),
        |agg AS (SELECT doc_id, count(*) AS n_terms, round(sum(s), 6) AS bm25
        |        FROM sc GROUP BY doc_id),
        |r AS (SELECT doc_id, n_terms, bm25,
        |             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
        |      FROM agg)
        |SELECT doc_id, n_terms, bm25, rk FROM r WHERE rk <= 20""".stripMargin),

    // PMI collocations: top-50 adjacent token pairs beating their
    // marginals' independence prediction (min count 5) — phrase mining.
    Gate("text_pmi", (s, dir) => {
      TextAnalysis.collocations(Tables(s, dir, "documents"),
        k = 50, minCount = 5L)
    },
      """WITH t AS (SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |cb AS (SELECT w1, w2, count(*) AS n12 FROM b GROUP BY 1, 2),
        |l AS (SELECT w1, sum(n12) AS n1 FROM cb GROUP BY 1),
        |r AS (SELECT w2, sum(n12) AS n2 FROM cb GROUP BY 1),
        |tt AS (SELECT sum(n12) AS t FROM cb)
        |SELECT cb.w1, cb.w2, CAST(cb.n12 AS BIGINT) AS n12,
        |       round(ln(CAST(cb.n12 AS DOUBLE) * tt.t
        |                / (CAST(l.n1 AS DOUBLE) * r.n2)), 6) AS pmi
        |FROM cb JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tt
        |WHERE cb.n12 >= 5
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 50""".stripMargin),

    // PII scrubbing over a constructed support-ticket text (the documents
    // corpus contains no emails/numbers): emails then 6+-digit runs to
    // typed placeholders, with audit counts. Zero shuffle.
    Gate("text_redact", (s, dir) => {
      val tickets = Tables(s, dir, "customer").select(
        col("c_custkey").as("doc_id"),
        concat(lit("Contact "), col("c_name"), lit(" at user"),
          col("c_custkey").cast("string"), lit("@example.com or acct "),
          lpad(col("c_custkey").cast("string"), 8, "0"),
          lit(" segment "), col("c_mktsegment")).as("text"))
      TextAnalysis.redact(tickets)
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_numbers").cast("long").as("n_numbers"), col("redacted"))
    },
      """WITH t AS (
        |  SELECT c_custkey AS doc_id,
        |         'Contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) ||
        |         '@example.com or acct ' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') ||
        |         ' segment ' || c_mktsegment AS text
        |  FROM customer),
        |r AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |                        '<EMAIL>', 'g') AS de
        |  FROM t)
        |SELECT doc_id,
        |       len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(de, '[0-9]{6,}')) AS n_numbers,
        |       regexp_replace(de, '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |FROM r""".stripMargin),

    // Benchmark decontamination: corpus docs sharing >= 2 trigrams with a
    // deterministic "benchmark" slice (every 97th doc) — eval-leakage
    // detection; corpus exploded once, benchmark side broadcast.
    Gate("text_contamination", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .withColumnRenamed("doc_id", "bench_id"),
        n = 3, minShared = 2)
    },
      // same trigram construction as the minhash CTE; corpus/bench split by
      // doc_id mod, intersection size via the shingle equi-join
      duckContaminationSql),

    // Intra-document repetition: duplicate token-5-gram fraction, a pure
    // per-row quality signal (zero shuffle).
    Gate("text_repetition", (s, dir) => {
      TextAnalysis.repetition(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(range(greatest(len(toks) - 5, 0) + 1),
        |             i -> array_to_string(list_slice(toks, i + 1, i + 5), ' ')),
        |           s -> len(string_split(s, ' ')) = 5) AS grams
        |  FROM t)
        |SELECT doc_id, len(grams) AS n_grams, len(list_distinct(grams)) AS n_uniq,
        |       CASE WHEN len(grams) > 0
        |            THEN round(1.0 - len(list_distinct(grams)) * 1.0 / len(grams), 6)
        |            ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin),

    // Quality scoring (length/stopword/punctuation signals + composite).
    Gate("text_quality", (s, dir) => {
      TextAnalysis.quality(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("mean_token_len"), col("stopword_ratio"),
          col("punct_ratio"), col("quality_score"))
    },
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(text, '\s', '', 'g')) AS n_nonws,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, n_chars, len(toks) AS n_tokens,
        |         CAST(n_nonws AS DOUBLE) / greatest(len(toks), 1) AS mean_len,
        |         CAST(len(list_filter(toks, w -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |           / greatest(len(toks), 1) AS stop_ratio,
        |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
        |  FROM t)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(n_tokens AS BIGINT) AS n_tokens,
        |       round(mean_len, 6) AS mean_token_len,
        |       round(stop_ratio, 6) AS stopword_ratio,
        |       round(punct_ratio, 6) AS punct_ratio,
        |       round(least(n_tokens / 20.0, 1.0) * 0.4
        |             + least(stop_ratio * 5.0, 1.0) * 0.3
        |             + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
        |FROM s""".stripMargin),

    // Bloom-prefiltered decontamination — the shape for benchmarks too
    // big to broadcast: a few-MB sketch filters the corpus gram stream
    // row-locally; only the remainder pays the exact shuffle join.
    // Output identical to text_contamination (FPs die in the join).
    Gate("contamination_bloom", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.contaminationBloom(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0)
          .withColumnRenamed("doc_id", "bench_id"),
        n = 3, minShared = 2)
    },
      // identical oracle: the Bloom pre-filter only removes grams the
      // exact join would reject anyway, so the output is bit-identical
      duckContaminationSql),

    // Per-source winsorize + min-max normalization of the quality score
    // — cross-source score calibration: one |sources|-row bounds agg
    // broadcast back, zero corpus shuffles.
    Gate("text_winsorize", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val scored = TextAnalysis.quality(docs)
        .select(col("doc_id"), col("quality_score"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      TextAnalysis.winsorize(scored, "source", "quality_score")
        .select(col("doc_id"), col("source"), col("quality_score"),
          col("lo"), col("hi"), col("winsorized"), col("norm_score"))
    },
      // same quality CTE; per-source quantile_cont bounds, then the
      // row-local clamp/rescale replayed on identical 6 dp doubles
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks,
        |         length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS n_punct
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |         CAST(len(list_filter(toks, w -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], w))) AS DOUBLE)
        |           / greatest(len(toks), 1) AS stop_ratio,
        |         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
        |  FROM t
        |), qs AS (
        |  SELECT doc_id,
        |         round(least(n_tokens / 20.0, 1.0) * 0.4
        |               + least(stop_ratio * 5.0, 1.0) * 0.3
        |               + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.3, 6) AS quality_score
        |  FROM s
        |), j AS (
        |  SELECT q.doc_id, d.source, q.quality_score
        |  FROM qs q JOIN documents d USING (doc_id)
        |), b AS (
        |  SELECT source,
        |         round(quantile_cont(quality_score, 0.05), 6) AS lo,
        |         round(quantile_cont(quality_score, 0.95), 6) AS hi
        |  FROM j GROUP BY 1)
        |SELECT j.doc_id, j.source, j.quality_score, b.lo, b.hi,
        |       least(greatest(j.quality_score, b.lo), b.hi) AS winsorized,
        |       CASE WHEN b.hi > b.lo
        |            THEN round((least(greatest(j.quality_score, b.lo), b.hi) - b.lo)
        |                       / (b.hi - b.lo), 6)
        |            ELSE 0.5 END AS norm_score
        |FROM j JOIN b USING (source)""".stripMargin),

    // Heuristic language ID with auditable per-language scores.
    Gate("text_langid", (s, dir) => {
      TextAnalysis.langId(Tables(s, dir, "documents"))
        .select(col("doc_id"),
          col("s_de").cast("long").as("s_de"), col("s_en").cast("long").as("s_en"),
          col("s_es").cast("long").as("s_es"), col("s_fr").cast("long").as("s_fr"),
          col("s_zh").cast("long").as("s_zh"), col("predicted"))
    },
      """WITH t AS (SELECT doc_id, text, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, w -> list_contains(['der','die','und','das','ist','nicht','ein'], w))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(toks, w -> list_contains(['the','a','and','of','to','is','in'], w))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(toks, w -> list_contains(['el','los','y','es','un','una','por'], w))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(toks, w -> list_contains(['le','les','et','est','un','une','pour'], w))) AS BIGINT) AS s_fr,
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS s_zh
        |  FROM t)
        |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |FROM s""".stripMargin),

    // Corpus heavy-hitter tokens: Misra-Gries candidates -> exact verify,
    // so the sketch is the scale path while the OUTPUT is exact (gated).
    Gate("text_heavyhitters", (s, dir) => {
      Sketches.heavyHitters(Tables(s, dir, "documents"), minFrac = 0.002)
    },
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
        |SELECT tok, CAST(count(*) AS BIGINT) AS cnt,
        |       round(count(*) / (SELECT n FROM tot), 6) AS frac
        |FROM toks GROUP BY tok
        |HAVING CAST(count(*) AS DOUBLE) >= 0.002 * (SELECT n FROM tot)""".stripMargin),

    // Rolling polynomial hash fingerprint of normalized text.
    Gate("text_fingerprint", (s, dir) => {
      TextAnalysis.fingerprint(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n_norm").cast("long").as("n_norm"), col("fp"))
    },
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS n_norm,
        |       list_reduce(
        |         list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(norm, ''), c -> CAST(ascii(c) AS BIGINT))),
        |         (a, b) -> (a * 31 + b) % 2147483647) AS fp
        |FROM n""".stripMargin),

    // Zipf rank-frequency fit per source: OLS slope of ln(freq) on
    // ln(rank) over the top-200 terms — the corpus-health diagnostic;
    // everything after the one corpus explode is vocabulary-sized.
    Gate("text_zipf", (s, dir) => {
      TextAnalysis.zipfFit(Tables(s, dir, "documents"), topN = 200)
        .select(col("source"), col("zipf_slope"), col("intercept"),
          col("r2"), col("n_terms"))
    },
      """WITH t AS (
        |  SELECT source,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, count(*) AS n FROM t GROUP BY 1, 2),
        |r AS (
        |  SELECT source, n,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n DESC, tok) AS rk
        |  FROM c),
        |l AS (
        |  SELECT source, ln(CAST(rk AS DOUBLE)) AS lx,
        |         ln(CAST(n AS DOUBLE)) AS ly
        |  FROM r WHERE rk <= 200)
        |SELECT source,
        |       round(regr_slope(ly, lx), 6) AS zipf_slope,
        |       round(regr_intercept(ly, lx), 6) AS intercept,
        |       round(corr(ly, lx) * corr(ly, lx), 6) AS r2,
        |       count(*) AS n_terms
        |FROM l GROUP BY source""".stripMargin),

    // Subword-vocab candidate counts: top-100 word-internal char n-grams
    // (2..6) — the counting pass of a WordPiece/BPE trainer. Hash agg
    // with map-side partials + TakeOrdered (never a global vocab sort).
    Gate("text_subwords", (s, dir) => {
      TextAnalysis.subwordVocab(Tables(s, dir, "documents"))
    },
      """WITH w AS (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS w FROM documents),
        |s AS (
        |  SELECT substr(w, i + 1, l) AS sw
        |  FROM w, UNNEST(range(2, 7)) AS ll(l), UNNEST(range(0, len(w) - l + 1)) AS ii(i)
        |  WHERE len(w) >= l)
        |SELECT sw, count(*) AS cnt FROM s GROUP BY 1
        |ORDER BY cnt DESC, sw LIMIT 100""".stripMargin),

    // Vocabulary sizing: OOV rate per language under the global top-500
    // word vocab — TakeOrdered top-k + broadcast semi-join + one agg.
    Gate("text_oov", (s, dir) => {
      TextAnalysis.oovRate(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT lang, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok FROM documents),
        |v AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS cnt FROM t GROUP BY 1
        |  ORDER BY cnt DESC, tok LIMIT 500)),
        |c AS (SELECT t.lang, count(*) AS n_tokens,
        |             CAST(sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |      FROM t LEFT JOIN v ON t.tok = v.tok GROUP BY 1)
        |SELECT lang, n_tokens, n_covered,
        |       round((n_tokens - n_covered) / CAST(n_tokens AS DOUBLE), 6) AS oov_rate
        |FROM c""".stripMargin),

    // Distributed BPE merge training (Sennrich 2016): 6 rounds of
    // pair-count → argmax → greedy merge over the vocabulary-sized
    // (word, freq) relation — the iterative half of tokenizer training.
    Gate("text_bpe", (s, dir) => {
      Bpe.train(Tables(s, dir, "documents"), steps = 6)
    },
      duckBpeSql),

    // Encode the corpus with the learned merges: per-piece occurrence
    // counts — a pure scan with the model fused as a column expression.
    Gate("text_bpe_encode", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Bpe.encode(docs, Bpe.train(docs, steps = 6))
    },
      duckBpeEncodeSql),

    // Corpus-trained unigram LM score: mean token log-prob + perplexity
    // per doc. TF pre-aggregated per (doc, token) before the vocab join
    // so Zipfian hot tokens never skew-bind a shuffle partition.
    Gate("text_unigram_lp", (s, dir) => {
      TextAnalysis.unigramLogProb(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
        |v AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |         round(sum(tf.tf * ln(CAST(v.cnt AS DOUBLE) / tot.total)) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN v USING (tok) CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT doc_id, n_tokens, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin),

    // Bigram LM score: word-order-sensitive fluency complement to the
    // unigram scorer — conditional MLE needs no corpus total, so the
    // plan has no 1-row cross join; tf pre-agg kills Zipf join skew.
    Gate("text_bigram_lp", (s, dir) => {
      TextAnalysis.bigramLogProb(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM cb GROUP BY 1),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |         round(sum(tf.tf * ln(CAST(cb.cnt AS DOUBLE) / cu.tot)) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN cb USING (w1, w2) JOIN cu USING (w1)
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin),

    // SMOOTHED bigram LM (Jelinek-Mercer interpolation, the CCNet-style
    // perplexity filter): λ·P(w2|w1) + (1−λ)·P(w2) per adjacent pair —
    // rare continuations keep a unigram floor instead of dominating the
    // raw conditional MLE. Exact-count ratios; λ arithmetic written
    // identically in both engines, so the rounded score is engine-exact.
    Gate("text_bigram_interp", (s, dir) => {
      TextAnalysis.bigramInterpLogProb(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
        |  FROM t, UNNEST(range(len(toks) - 1)) AS u(i)
        |  WHERE len(toks) >= 2),
        |tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1, 2),
        |cu AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS tot FROM cb GROUP BY 1),
        |uni AS (SELECT w2, count(*) AS ucnt FROM (SELECT unnest(toks) AS w2 FROM t) x GROUP BY 1),
        |tt AS (SELECT CAST(sum(ucnt) AS BIGINT) AS total FROM uni),
        |d AS (
        |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
        |         round(sum(tf.tf * ln(0.7 * (CAST(cb.cnt AS DOUBLE) / cu.tot) +
        |                              (1 - 0.7) * (CAST(uni.ucnt AS DOUBLE) / tt.total))) / sum(tf.tf), 6) AS avg_logp
        |  FROM tf JOIN cb USING (w1, w2) JOIN cu USING (w1) JOIN uni USING (w2) CROSS JOIN tt
        |  GROUP BY 1)
        |SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl FROM d""".stripMargin),

    // Per-document token-distribution ENTROPY: H = −Σ p ln p over the
    // doc's own token frequencies — the cheap compressibility/diversity
    // signal (boilerplate and keyword-stuffed docs score low). One
    // explode → (doc, tok) counts with map-side partials, then a per-doc
    // aggregation; the corpus text never shuffles, only the count
    // relation.
    Gate("text_entropy", (s, dir) => {
      val tf = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text")))
          .as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      tf.groupBy("doc_id")
        .agg(sum(col("n")).as("n_tokens"),
          round(log(sum(col("n"))) -
            sum(col("n") * log(col("n"))) / sum(col("n")), 6)
            .as("entropy"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin),

    // Categorical mix drift: did the LANGUAGE composition of the corpus
    // move between the even- and odd-id halves? Categories are the
    // buckets — no binning; the spine is the union of seen values.
    Gate("drift_lang_mix", (s, dir) => {
      val docs = Tables(s, dir, "documents")
      Profiling.psiDriftCategorical(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "lang")
    },
      // categorical PSI: the category is the bucket; full-outer spine of
      // seen values, eps-guarded fractions
      """WITH refs AS (SELECT lang FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL),
        |curs AS (SELECT lang FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL),
        |r AS (SELECT lang AS category, count(*) AS n_ref FROM refs GROUP BY 1),
        |c AS (SELECT lang AS category, count(*) AS n_cur FROM curs GROUP BY 1),
        |j AS (SELECT coalesce(r.category, c.category) AS category,
        |             coalesce(r.n_ref, 0) AS n_ref, coalesce(c.n_cur, 0) AS n_cur
        |      FROM r FULL OUTER JOIN c ON r.category = c.category),
        |t AS (SELECT j.*, sum(n_ref) OVER () AS tr, sum(n_cur) OVER () AS tc FROM j),
        |f AS (SELECT category, n_ref, n_cur,
        |        GREATEST(coalesce(CAST(n_ref AS DOUBLE) / nullif(tr, 0), 0), 1e-6) AS p,
        |        GREATEST(coalesce(CAST(n_cur AS DOUBLE) / nullif(tc, 0), 0), 1e-6) AS q
        |      FROM t)
        |SELECT category, n_ref, n_cur, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
        |       round((p - q) * ln(p / q), 6) AS contrib
        |FROM f""".stripMargin)
  )
}
