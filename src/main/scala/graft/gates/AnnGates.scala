package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graphs, Profiling, Similarity, TextAnalysis}
import graft.sources.Tables

/** Embedding gates over `embeddings`: exact and approximate nearest
  * neighbors (PQ, LSH, IVF, graph), k-means, projection and semantic dedup.
  */
object AnnGates {

  /** The embedding width passed to the ANN operators so no gate runs a
    * 1-row dim-probe job PER BUILD — probed once per DIRECTORY and
    * memoized for the JVM's lifetime (concurrent first calls may race the
    * probe; both compute the same value, so the race is benign). The key
    * is the dir path alone: regenerating the parquet at the SAME path with
    * a different width mid-JVM would serve the stale dim — acceptable
    * here because the driver's testdata dirs are immutable within a run
    * (regenerate ⇒ new JVM). A hardcoded constant would be faster still, but a testdata
    * dir with a different width would then silently miscompute every
    * dot-fold (wrong rows, no error); one probe job per dir is the price
    * of failing loudly instead. A production caller passes its known
    * width to the operators directly and pays neither.
    */
  private val dimCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def embeddingsDim(s: SparkSession, dir: String): Int =
    dimCache.getOrElseUpdate(dir, {
      val d = Tables(s, dir, "embeddings")
        .select(size(col("embedding")).as("d")).limit(1)
        .collect().headOption.map(_.getInt(0)).getOrElse(0)
      require(d > 0, s"embeddings table at $dir has no rows or empty vectors")
      d
    })

  // ---------------------------------------------------------------- shared SQL
  // ANSI SQL strings run verbatim on Spark and DuckDB (dialect-neutral subset:
  // no window()/time_bucket, INTERVAL literals avoided, explicit rounding).


  /** DuckDB mirrors of the four query-set ANN gates, extracted so the
    * recall gate can reuse them verbatim as subqueries — the recall oracle
    * must measure EXACTLY the gated methods, not a re-derivation.
    */
  private val duckAnnTopkSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |s AS (
      |  SELECT q_id, e.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB VALUES literal of the 16×64 JL projection matrix — generated
    * from the SAME [[graft.operators.Similarity.planeMatrix]] the Spark
    * gates bake into their plans (Double.toString round-trips, so both
    * engines parse identical IEEE doubles). Dim 64 is the test corpus'
    * embedding width.
    */
  private val duckRpMatrix: String =
    Similarity.planeMatrix(16, 64).zipWithIndex.map { case (row, j) =>
      // CAST: a bare list literal types as DECIMAL[], which would round
      // the matrix away from the IEEE doubles the Spark plan carries
      s"($j, CAST([${row.mkString(", ")}] AS DOUBLE[]))"
    }.mkString(", ")

  /** Projected coordinates in long form — shared by the projection gate
    * and the reduced-dimension top-k on top of it.
    */
  private val duckRpProjCte: String =
    s"""m(j, row) AS (VALUES $duckRpMatrix),
       |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |       FROM embeddings),
       |pj AS (SELECT vec_id, j,
       |              round(list_dot_product(v, row) / ${Similarity.rpScale(16)},
       |                    6) AS p
       |       FROM e0 CROSS JOIN m)""".stripMargin

  private val duckRpTopkSql: String =
    s"""WITH $duckRpProjCte,
       |p AS (SELECT vec_id, list(p ORDER BY j) AS v FROM pj GROUP BY 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM p WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT q_id, p.vec_id AS neighbor,
       |         round(list_dot_product(v, qv)
       |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
       |  FROM p CROSS JOIN q WHERE p.vec_id <> q_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
       |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** DuckDB mirror of [[graft.operators.Similarity.nnDescent]] (k=5,
    * iters=2, seedBuckets=100): the fixed-depth NN-Descent build unrolled —
    * seed cohort ranking, then per round the undirected adjacency, its
    * neighbor-of-neighbor join, and a re-rank. Generated by a Scala loop so
    * the round body is written once and the round count provably matches
    * the gate's `iters`.
    */
  private val duckAnnGraphIters = 2

  /** WITH-body replaying [[graft.operators.Similarity.nnDescent]] through
    * its final ranked graph `g2` — shared by the graph gate and the beam
    * search on top of it.
    */
  private val duckAnnGraphCte: String = {
    def scoreRank(i: Int): String =
      s"""s$i AS (SELECT c.vec_id, c.neighbor,
         |            round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cos
         |     FROM c$i c JOIN en x ON c.vec_id = x.vec_id
         |                JOIN en y ON c.neighbor = y.vec_id),
         |g$i AS (SELECT vec_id, neighbor, cos, rk FROM
         |        (SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                      ORDER BY cos DESC, neighbor) AS rk
         |         FROM s$i)
         |      WHERE rk <= 5)""".stripMargin
    def nextCand(i: Int): String =
      s"""r$i AS (SELECT vec_id, neighbor FROM
         |        (SELECT neighbor AS vec_id, vec_id AS neighbor, cos,
         |                row_number() OVER (PARTITION BY neighbor
         |                                   ORDER BY cos DESC, vec_id) AS rrk
         |         FROM g$i)
         |      WHERE rrk <= 10),
         |u$i AS (SELECT vec_id, neighbor FROM g$i
         |      UNION ALL SELECT vec_id, neighbor FROM r$i),
         |c${i + 1} AS (SELECT DISTINCT vec_id, neighbor FROM
         |        (SELECT vec_id, neighbor FROM u$i
         |         UNION ALL
         |         SELECT a.vec_id, b.neighbor FROM u$i a JOIN u$i b ON a.neighbor = b.vec_id)
         |       WHERE vec_id <> neighbor)""".stripMargin
    val iters = duckAnnGraphIters
    val rounds = (0 until iters)
      .map(i => scoreRank(i) + ",\n" + nextCand(i) + ",\n").mkString
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |bk AS (SELECT vec_id, t,
       |              CAST(concat('0x', substr(md5('seed:' || CAST(t AS VARCHAR) || ':' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bk
       |       FROM e CROSS JOIN (SELECT 0 AS t UNION ALL SELECT 1) ts),
       |c0 AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor
       |       FROM bk a JOIN bk b ON a.t = b.t AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       |$rounds${scoreRank(iters)}""".stripMargin
  }

  private val duckAnnGraphSql: String =
    s"""WITH $duckAnnGraphCte
       |SELECT vec_id, neighbor, cos, CAST(rk AS BIGINT) AS rk
       |FROM g$duckAnnGraphIters""".stripMargin

  /** Beam search over the replayed kNN graph, unrolled hop-by-hop —
    * mirrors [[graft.operators.Similarity.graphSearch]] term-for-term
    * (fixed smallest-id entry points, 6-dp cosines, id tie-breaks).
    */
  private val duckGraphSearchSql: String = {
    val (k, beam, hops) = (5, 10, 3)
    def score(in: String, out: String): String =
      s"""$out AS (SELECT c.qid, c.vec_id,
         |         round(list_dot_product(x.v, q.qv) / (x.nrm * q.qnrm), 6) AS cos
         |     FROM $in c JOIN en x ON c.vec_id = x.vec_id
         |                JOIN qs q ON c.qid = q.qid)""".stripMargin
    def topBeam(in: String, out: String): String =
      s"""$out AS (SELECT qid, vec_id, cos FROM
         |        (SELECT *, row_number() OVER (PARTITION BY qid
         |                                      ORDER BY cos DESC, vec_id) AS rk
         |         FROM $in)
         |      WHERE rk <= $beam)""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      s"""hc$h AS (SELECT DISTINCT f${h - 1}.qid, g.neighbor AS vec_id
         |       FROM f${h - 1} JOIN und g
         |         ON f${h - 1}.vec_id = g.vec_id),
         |${score(s"hc$h", s"hs$h")},
         |ha$h AS (SELECT DISTINCT qid, vec_id, cos FROM
         |        (SELECT qid, vec_id, cos FROM f${h - 1}
         |         UNION ALL SELECT qid, vec_id, cos FROM hs$h)),
         |${topBeam(s"ha$h", s"f$h")}""".stripMargin
    }.mkString(",\n")
    s"""WITH $duckAnnGraphCte,
       |und AS (SELECT DISTINCT vec_id, neighbor FROM
       |        (SELECT vec_id, neighbor FROM g$duckAnnGraphIters
       |         UNION ALL
       |         SELECT neighbor AS vec_id, vec_id AS neighbor
       |         FROM g$duckAnnGraphIters)),
       |qs AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en
       |       WHERE vec_id % 50 = 0),
       |ent AS (SELECT vec_id FROM en WHERE vec_id % 10 = 0),
       |ec AS (SELECT q.qid, e.vec_id FROM qs q CROSS JOIN ent e),
       |${score("ec", "es")},
       |${topBeam("es", "f0")},
       |$hopCtes
       |SELECT qid, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM
       |  (SELECT *, row_number() OVER (PARTITION BY qid
       |                                ORDER BY cos DESC, vec_id) AS rk
       |   FROM f$hops WHERE vec_id <> qid)
       |WHERE rk <= $k""".stripMargin
  }

  private val duckAnnQuantizedSql: String =
    """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
      |sc AS (SELECT vec_id, v0,
      |              list_max(list_transform(v0, x -> abs(x))) / 127.0 AS s
      |       FROM e0),
      |e AS (SELECT vec_id,
      |             CASE WHEN s = 0 THEN list_transform(v0, x -> 0.0)
      |                  ELSE list_transform(v0, x -> round(x / s) * s) END AS v
      |      FROM sc),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
      |s2 AS (
      |  SELECT q_id, e.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM e CROSS JOIN q WHERE e.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s2)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  private val duckAnnLshSql: String =
    """WITH planes AS (
      |  SELECT b, list_transform(range(64), d ->
      |    CAST(concat('0x', substr(md5('plane:' || b || ':' || d), 1, 15)) AS BIGINT)
      |      / (1.1529215046068467e18 / 2.0) - 1.0) AS pv
      |  FROM range(12) r(b)),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |sigs AS (
      |  SELECT vec_id, CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
      |                          THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS sig
      |  FROM e CROSS JOIN planes GROUP BY vec_id),
      |es AS (SELECT e.vec_id, v, sig FROM e JOIN sigs USING (vec_id)),
      |q AS (SELECT vec_id AS q_id, v AS qv, sig AS qsig FROM es WHERE vec_id % 50 = 0),
      |s AS (
      |  SELECT q_id, es.vec_id AS neighbor,
      |         round(list_dot_product(v, qv)
      |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |  FROM es CROSS JOIN q
      |  WHERE bit_count(xor(sig, qsig)) <= 2 AND es.vec_id <> q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  private[gates] val duckAnnIvfSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 0),
      |asg AS (
      |  SELECT vec_id, v, nrm, c_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
      |           row_number() OVER (PARTITION BY n.vec_id
      |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
      |                      c.c_id) AS rn
      |    FROM n CROSS JOIN cents c) t
      |  WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
      |probes AS (
      |  SELECT q_id, qv, qnrm, c_id FROM (
      |    SELECT q.q_id, q.qv, q.qnrm, c.c_id,
      |           row_number() OVER (PARTITION BY q.q_id
      |             ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
      |                      c.c_id) AS rn
      |    FROM q CROSS JOIN cents c) t
      |  WHERE rn <= 2),
      |s AS (
      |  SELECT q_id, a.vec_id AS neighbor,
      |         round(list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm), 6) AS cos
      |  FROM probes p JOIN asg a USING (c_id)
      |  WHERE a.vec_id <> p.q_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
      |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** The k-means CTE chain (embeddings view `e`, seeds `c0`, per-round
    * dist/assign/means, final assignment `a3`) — shared by the ann_kmeans
    * gate and dedup_semantic's cluster replay.
    */
  private val duckKmeansCtes: String = {
    val iters = 3
    def dist(n: Int, cents: String) =
      s"""d$n AS (
         |  SELECT e.vec_id, c.cid,
         |         list_sum(list_transform(range(len(e.v)),
         |           i -> (e.v[i+1] - c.cv[i+1]) * (e.v[i+1] - c.cv[i+1]))) AS dist
         |  FROM e CROSS JOIN $cents c)""".stripMargin
    def assign(n: Int) =
      s"""a$n AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d$n) t
         |  WHERE rn = 1)""".stripMargin
    def means(n: Int) =
      s"""m$n AS (
         |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |    SELECT a$n.cid, u.pos, round(avg(u.x), 6) AS m
         |    FROM a$n JOIN (
         |      SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS pos
         |      FROM e) u USING (vec_id)
         |    GROUP BY a$n.cid, u.pos) g
         |  GROUP BY cid),
         |k$n AS (
         |  SELECT p.cid, coalesce(nw.cv, p.cv) AS cv
         |  FROM ${if (n == 1) "c0" else s"k${n - 1}"} p
         |  LEFT JOIN m$n nw ON nw.cid = p.cid)""".stripMargin
    val rounds = (1 until iters).map(n =>
      dist(n, if (n == 1) "c0" else s"k${n - 1}") + ",\n" + assign(n) + ",\n" +
        means(n)).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
       |  FROM e ORDER BY vec_id LIMIT 8),
       |$rounds,
       |${dist(iters, s"k${iters - 1}")},
       |${assign(iters)}""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.kMeans]](k=8, iters=3): Lloyd unrolled —
    * seeds = 8 smallest-id vectors, argmin ties → smallest cluster id,
    * centroid means rounded to 6 each iteration, empty clusters carry the
    * previous centroid. Same pinning as the Spark side, so assignments are
    * engine-exact.
    */
  private val duckKmeansSql: String =
    duckKmeansCtes + "\nSELECT vec_id, CAST(cid AS INTEGER) AS cluster FROM a3"

  /** PQ replay: per-subspace k-means codebooks (same deterministic Lloyd
    * as the ann_kmeans CTEs, over 16-dim slices), corpus codes by nearest
    * codeword, then asymmetric-distance top-5 — summation and tie-break
    * order mirror the Spark side exactly.
    */
  private def duckPqSqlAt(topk: Int): String = {
    // must mirror Similarity.pqTopK's defaults: m=16 4-dim subspaces,
    // 16 codewords, 3 Lloyd iterations (2 means updates + final assign);
    // topk=5 is the ann_pq gate, topk=pqRerankShortlist (100) the
    // ann_pq_rerank shortlist
    val m = 16; val k = 16; val sub = 4; val iters = 3
    val stride = 50
    def subspace(i: Int): String = {
      val lo = i * sub + 1; val hi = (i + 1) * sub
      def dist(n: Int, cents: String) =
        s"""d${n}_$i AS (
           |  SELECT e.vec_id, c.cid,
           |         list_sum(list_transform(range(len(e.v)),
           |           j -> (e.v[j+1] - c.cv[j+1]) * (e.v[j+1] - c.cv[j+1]))) AS dist
           |  FROM e_$i e CROSS JOIN $cents c)""".stripMargin
      def assign(n: Int) =
        s"""a${n}_$i AS (
           |  SELECT vec_id, cid FROM (
           |    SELECT vec_id, cid,
           |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d${n}_$i) t
           |  WHERE rn = 1)""".stripMargin
      def means(n: Int) =
        s"""m${n}_$i AS (
           |  SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |    SELECT a${n}_$i.cid, u.pos, round(avg(u.x), 6) AS m
           |    FROM a${n}_$i JOIN (
           |      SELECT vec_id, unnest(v) AS x, unnest(range(len(v))) AS pos
           |      FROM e_$i) u USING (vec_id)
           |    GROUP BY a${n}_$i.cid, u.pos) g
           |  GROUP BY cid),
           |k${n}_$i AS (
           |  SELECT p.cid, coalesce(nw.cv, p.cv) AS cv
           |  FROM ${if (n == 1) s"c0_$i" else s"k${n - 1}_$i"} p
           |  LEFT JOIN m${n}_$i nw ON nw.cid = p.cid)""".stripMargin
      val rounds = (1 until iters).map(n =>
        dist(n, if (n == 1) s"c0_$i" else s"k${n - 1}_$i") + ",\n" +
          assign(n) + ",\n" + means(n)).mkString(",\n")
      s"""e_$i AS (SELECT vec_id, list_slice(v, $lo, $hi) AS v FROM e),
         |c0_$i AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
         |  FROM e_$i ORDER BY vec_id LIMIT $k),
         |$rounds,
         |${dist(iters, s"k${iters - 1}_$i")},
         |${assign(iters)},
         |qd_$i AS (
         |  SELECT q.vec_id AS qid, c.cid,
         |         list_sum(list_transform(range(len(q.v)),
         |           j -> (q.v[j+1] - c.cv[j+1]) * (q.v[j+1] - c.cv[j+1]))) AS dist
         |  FROM e_$i q CROSS JOIN k${iters - 1}_$i c
         |  WHERE q.vec_id % $stride = 0)""".stripMargin
    }
    val fin = s"a${iters}_"
    val adist = (0 until m).map(i => s"t$i.dist").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |${(0 until m).map(subspace).mkString(",\n")},
       |qids AS (SELECT vec_id AS qid FROM e WHERE vec_id % $stride = 0),
       |sc AS (
       |  SELECT q.qid, ${fin}0.vec_id, round($adist, 6) AS adist
       |  FROM ${fin}0 ${(1 until m).map(i => s"JOIN $fin$i USING (vec_id)").mkString(" ")}
       |  CROSS JOIN qids q
       |  ${(0 until m).map(i => s"JOIN qd_$i t$i ON t$i.qid = q.qid AND t$i.cid = $fin$i.cid").mkString("\n  ")}
       |  WHERE ${fin}0.vec_id <> q.qid),
       |r AS (SELECT qid, vec_id, adist,
       |        row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rk
       |      FROM sc)
       |SELECT qid AS q_id, vec_id AS neighbor, adist, CAST(rk AS BIGINT) AS rk
       |FROM r WHERE rk <= $topk""".stripMargin
  }

  private val duckPqSql: String = duckPqSqlAt(5)

  /** ADC shortlist size shared by the ann_pq_rerank GATE and its oracle —
    * one constant so the two can never drift apart (recall@5 = 0.94 was
    * measured at 100; the Similarity.pqRerankTopK parameter default of 50
    * is the operator's own, the gate always passes this).
    */
  private val pqRerankShortlist = 100

  /** PQ shortlist→exact re-rank replay: the ADC top-[[pqRerankShortlist]]
    * shortlist is the full [[duckPqSqlAt]] chain as a subquery (so the
    * rerank oracle can never drift from ann_pq's), then exact rounded
    * cosine on the raw vectors, re-ranked to top-5 with
    * [[Similarity.bruteForceTopK]]'s ordering.
    */
  private val duckPqRerankSql: String =
    s"""WITH sl AS (SELECT q_id, neighbor FROM (${duckPqSqlAt(pqRerankShortlist)}) x),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT sl.q_id, sl.neighbor,
       |         round(list_dot_product(n.v, q.qv) / (n.nrm * q.qnrm), 6) AS cos
       |  FROM sl JOIN n ON n.vec_id = sl.neighbor JOIN q ON q.q_id = sl.q_id),
       |r AS (SELECT q_id, neighbor, cos,
       |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk
       |      FROM s)
       |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin

  /** SemDeDup replay: final k-means assignment, then within-cluster
    * keep-first pruning at the same rounded-cosine threshold the Spark
    * side applies.
    */
  private val duckSemanticSql: String =
    duckKmeansCtes + """,
      |ev AS (SELECT e.vec_id, a3.cid AS cluster, e.v
      |       FROM e JOIN a3 USING (vec_id)),
      |p AS (SELECT b.vec_id AS vid, min(a.vec_id) AS dup_of
      |      FROM ev a JOIN ev b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |      WHERE round(list_dot_product(a.v, b.v)
      |            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
      |      GROUP BY b.vec_id)
      |SELECT ev.vec_id, CAST(ev.cluster AS BIGINT) AS cluster,
      |       (p.dup_of IS NOT NULL) AS is_dup, p.dup_of
      |FROM ev LEFT JOIN p ON p.vid = ev.vec_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Embedding-centroid drift between the two vec_id-parity slices:
    // cosine/L2/max-dim shift of the per-slice centroids — the 2·|dims|-
    // row aggregate that guards an ANN index rebuild.
    Gate("drift_embed", (s, dir) => {
      Profiling.embeddingDrift(Tables(s, dir, "embeddings"),
        pmod(col("vec_id"), lit(2)))
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id % 2 AS slice, unnest(v) AS val,
        |         generate_subscripts(v, 1) AS dim
        |  FROM e),
        |c AS (SELECT slice, dim, avg(val) AS m FROM x GROUP BY 1, 2),
        |j AS (
        |  SELECT a.dim, a.m AS ma, b.m AS mb
        |  FROM (SELECT dim, m FROM c WHERE slice = 0) a
        |  JOIN (SELECT dim, m FROM c WHERE slice = 1) b USING (dim))
        |SELECT round(sum(ma * mb) / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb))), 6)
        |         AS cos_sim,
        |       round(sqrt(sum((ma - mb) * (ma - mb))), 6) AS l2_delta,
        |       round(max(abs(ma - mb)), 6) AS max_abs_delta,
        |       count(*) AS dims
        |FROM j""".stripMargin),

    // Cross-modal enrichment: each document fused with its embedding's
    // cluster label and L2 norm — the joined text+vector record a
    // curation pipeline materializes before training. Equi-join on the
    // shared id; at scale the narrow embedding side broadcasts or
    // co-buckets with the corpus.
    Gate("join_doc_embed", (s, dir) => {
      val docs = TextAnalysis.tokenStats(Tables(s, dir, "documents"))
      val embs = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label").cast("long").as("label"),
          round(Similarity.l2Norm(col("embedding").cast("array<double>")), 6)
            .as("emb_norm"))
      docs.join(embs, docs("doc_id") === embs("vec_id"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("label"), col("emb_norm"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT t.doc_id, t.n_tokens, CAST(e.label AS BIGINT) AS label,
        |       round(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[]))), 6) AS emb_norm
        |FROM t JOIN embeddings e ON t.doc_id = e.vec_id""".stripMargin),

    // Embedding cosine near-dup, blocked by cluster label.
    Gate("dedup_embed", (s, dir) => {
      Dedup.embeddingNearDup(Tables(s, dir, "embeddings"), "label", 0.35)
        .select(col("id1"), col("id2"), col("block").cast("long").as("block"),
          col("cos"))
    },
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2, CAST(a.label AS BIGINT) AS block,
        |       round(list_dot_product(a.v, b.v)
        |             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35""".stripMargin),

    // Product-quantization top-k: per-subspace codebooks + asymmetric
    // distance — m byte-sized codes and m table lookups per corpus row
    // replace the d-dim scan; the storage/compute lever for 100 TB ANN.
    Gate("ann_pq", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
        embDim = embeddingsDim(s, dir))
        .select(col("q_id"), col("neighbor"), col("adist"),
          col("rk").cast("long").as("rk"))
    },
      duckPqSql),

    // PQ + exact re-rank (Jégou 2011's second stage): ADC top-100
    // shortlist from the same codebooks/scan as ann_pq, then exact
    // cosine on the raw vectors of ONLY the shortlisted candidates —
    // raw ADC order serves recall@5 0.34; the re-rank restores 0.94
    // (EdgeCaseSpec pins ≥0.9) at ~C/n of brute-force scoring cost.
    Gate("ann_pq_rerank", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.pqRerankTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
        shortlist = pqRerankShortlist, embDim = embeddingsDim(s, dir))
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckPqRerankSql),

    // SemDeDup: k-means the embedding space, prune near-identical items
    // within each learned cluster (keep-first by id) — paraphrase-level
    // dedup that hash/minhash methods cannot see.
    Gate("dedup_semantic", (s, dir) => {
      Dedup.semanticDedup(Tables(s, dir, "embeddings"))
    },
      duckSemanticSql),

    // Brute-force cosine top-k (exact ANN baseline); queries = every 50th id.
    Gate("ann_topk", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckAnnTopkSql),

    // Int8-quantized top-k: quantize → dequantize → exact scoring — the
    // measurable baseline for the 4x-compression/recall trade that makes
    // a 100 TB embedding corpus scannable.
    Gate("ann_quantized", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckAnnQuantizedSql),

    // LSH-bucketed approximate top-k — the scale path; rows-only check
    // (the LSH plane derivation is Spark-side only).
    Gate("ann_lsh", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
        dim = embeddingsDim(s, dir))
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckAnnLshSql),

    // IVF coarse-quantized approximate top-k: deterministic centroid
    // sample, corpus assigned once, queries probe 2 inverted lists.
    Gate("ann_ivf", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckAnnIvfSql),

    // The SCALE-SAFE IVF configuration as its own tested path: stride
    // auto-sized to ~sqrt(n) centroids (assignment O(n^1.5) instead of
    // the fixed stride's O(n²/stride)) with nprobe scaled per the
    // BASELINE g-tier guidance (np=8 at ~sqrt(n) lists matched the
    // fixed-stride recall at 1/3 the cost). ann_ivf stays as the
    // fixed-stride parity gate; this is the default a 100 TB user
    // should reach for.
    Gate("ann_ivf_auto", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") % 50 === 0), 5,
          centroidEvery = 0, nprobe = 8)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      // √n-auto-stride IVF: the oracle recomputes the identical stride
      // (round(sqrt(|corpus|))) and probes np=8 lists
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |st AS (SELECT CAST(round(sqrt(count(*))) AS BIGINT) AS every FROM e),
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm
        |          FROM n, st WHERE vec_id % every = 0),
        |asg AS (
        |  SELECT vec_id, v, nrm, c_id FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
        |           row_number() OVER (PARTITION BY n.vec_id
        |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM n CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id % 50 = 0),
        |probes AS (
        |  SELECT q_id, qv, qnrm, c_id FROM (
        |    SELECT q.q_id, q.qv, q.qnrm, c.c_id,
        |           row_number() OVER (PARTITION BY q.q_id
        |             ORDER BY round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM q CROSS JOIN cents c) t
        |  WHERE rn <= 8),
        |s AS (
        |  SELECT q_id, a.vec_id AS neighbor,
        |         round(list_dot_product(a.v, p.qv) / (a.nrm * p.qnrm), 6) AS cos
        |  FROM probes p JOIN asg a USING (c_id)
        |  WHERE a.vec_id <> p.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor) AS rk FROM s)
        |SELECT q_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5""".stripMargin),

    // kNN-graph build via NN-Descent — the batch counterpart of
    // graph-ANN indexes (HNSW-class): md5-hash-bucket seed cohorts, two
    // neighbor-of-neighbor refinement rounds, every step an equi-join.
    // Fixed depth + deterministic orderings make the full build
    // oracle-replayable.
    Gate("ann_graph", (s, dir) => {
      Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5, iters = 2,
        seedBuckets = 100)
        .select(col("vec_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckAnnGraphSql),

    // PageRank over the kNN graph: centrality of each vector in the
    // corpus' similarity structure — 3 rounds of join+agg with
    // per-round 10 dp rounding so any engine replays bit-identically.
    Gate("ann_pagerank", (s, dir) => {
      val g = Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5,
        iters = 2, seedBuckets = 100)
      Graphs.pageRank(
        g.select(col("vec_id").as("src"), col("neighbor").as("dst")),
        iters = 3)
    },
      // PageRank rounds unrolled over the replayed kNN graph; `gm`
      // materializes the expensive graph chain so the per-round references
      // cannot re-inline it
      (s"""WITH $duckAnnGraphCte,
        |gm AS MATERIALIZED (SELECT vec_id AS src, neighbor AS dst FROM g$duckAnnGraphIters),
        |odeg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM gm GROUP BY 1),
        |nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM gm
        |        UNION SELECT DISTINCT dst FROM gm),
        |pr0 AS MATERIALIZED (SELECT id, 1.0 AS r FROM nodes),
        |${(1 to 3).map(t => s"""
        |pr$t AS MATERIALIZED (
        |  SELECT n.id, round(0.15 + 0.85 * COALESCE(c.s, 0.0), 10) AS r
        |  FROM nodes n LEFT JOIN (
        |    SELECT gm.dst AS id, sum(p.r / odeg.outdeg) AS s
        |    FROM gm JOIN odeg ON gm.src = odeg.src
        |            JOIN pr${t - 1} p ON gm.src = p.id
        |    GROUP BY 1) c ON n.id = c.id)""").mkString(",")}
        |SELECT id, round(r, 6) AS pagerank FROM pr3""".stripMargin)),

    // Per-node triangle counts over the (undirected) kNN graph — local
    // clustering density: each triangle enumerated once in ascending
    // orientation via two equi-joins, corners exploded into one hash agg.
    Gate("graph_triangles", (s, dir) => {
      val g = Similarity.nnDescent(Tables(s, dir, "embeddings"), k = 5,
        iters = 2, seedBuckets = 100)
      Graphs.triangles(
          g.select(col("vec_id").as("src"), col("neighbor").as("dst")))
        .select(col("id").as("vec_id"), col("n_tri"))
    },
      // triangles over the replayed kNN graph: canonical unordered pairs,
      // ascending-orientation enumeration, corner explode
      (s"""WITH $duckAnnGraphCte,
        |gm AS MATERIALIZED (SELECT vec_id AS src, neighbor AS dst FROM g$duckAnnGraphIters),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM gm WHERE src <> dst),
        |tri AS MATERIALIZED (
        |  SELECT a.u AS x, a.v AS y, b.v AS z
        |  FROM und a JOIN und b ON a.v = b.u JOIN und c ON c.u = a.u AND c.v = b.v),
        |corners AS (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT id AS vec_id, count(*) AS n_tri
        |FROM corners GROUP BY id""".stripMargin)),

    // Query-time beam search over that graph (HNSW-style walk): every
    // 50th vector as the query set, fixed entry points, 3 hops, beam 10
    // — the corpus is scanned zero times per query.
    Gate("ann_graph_search", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val graph = Similarity.nnDescent(emb, k = 5, iters = 2,
        seedBuckets = 100)
      Similarity.graphSearch(emb, emb.filter(col("vec_id") % 50 === 0),
          graph, k = 5, beam = 10, hops = 3)
        .select(col("qid"), col("vec_id"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckGraphSearchSql),

    // Semantic decontamination: corpus vectors too close (cosine) to any
    // benchmark vector — catches the paraphrased eval leakage n-gram
    // overlap (text_contamination) misses. Scan × broadcast benchmark.
    Gate("contamination_embed", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.contaminationByEmbedding(
        emb.filter(col("vec_id") % 97 =!= 0),
        emb.filter(col("vec_id") % 97 === 0), minCos = 0.3)
    },
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e WHERE vec_id % 97 <> 0),
        |b AS (SELECT vec_id AS bench_id, v AS bv, sqrt(list_dot_product(v, v)) AS bnrm
        |      FROM e WHERE vec_id % 97 = 0)
        |SELECT vec_id, bench_id,
        |       round(list_dot_product(v, bv) / (nrm * bnrm), 6) AS cos
        |FROM c CROSS JOIN b
        |WHERE round(list_dot_product(v, bv) / (nrm * bnrm), 6) >= 0.3""".stripMargin),

    // Recall@5 of each approximate ANN path against the exact brute-force
    // baseline on the same query set — the quality half of the
    // cost/recall trade the approximate methods make, which a
    // deterministic result check cannot see.
    Gate("ann_recall", (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") % 50 === 0)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(emb, qs, 5),
        Seq(
          "ivf" -> Similarity.ivfTopK(emb, qs, 5),
          "lsh" -> Similarity.lshTopK(emb, qs, 5, dim = embeddingsDim(s, dir)),
          "quantized" -> Similarity.quantizedTopK(emb, qs, 5)))
    },
      // recall measured against the SAME four gated pipelines, embedded as
      // subqueries so the recall oracle can never drift from the per-method
      // oracles above
      s"""WITH exact AS (SELECT q_id, neighbor FROM ($duckAnnTopkSql) x),
         |ivf_r AS (SELECT q_id, neighbor FROM ($duckAnnIvfSql) x),
         |lsh_r AS (SELECT q_id, neighbor FROM ($duckAnnLshSql) x),
         |qz_r AS (SELECT q_id, neighbor FROM ($duckAnnQuantizedSql) x),
         |tot AS (SELECT count(*) AS total FROM exact),
         |hits AS (
         |  SELECT 'ivf' AS method, count(*) AS hits
         |  FROM ivf_r JOIN exact USING (q_id, neighbor)
         |  UNION ALL
         |  SELECT 'lsh', count(*) FROM lsh_r JOIN exact USING (q_id, neighbor)
         |  UNION ALL
         |  SELECT 'quantized', count(*) FROM qz_r JOIN exact USING (q_id, neighbor))
         |SELECT method, hits, total, round(hits * 1.0 / total, 6) AS recall
         |FROM hits CROSS JOIN tot""".stripMargin),

    // Johnson–Lindenstrauss random projection 64→16 dims: one corpus
    // scan, literal matrix, codegen dot folds — the 4x-cheaper distance
    // path; long form so the oracle replays each coordinate exactly.
    Gate("embed_project", (s, dir) => {
      Similarity.randomProjection(Tables(s, dir, "embeddings"), outDim = 16,
        dim = embeddingsDim(s, dir))
    },
      // JL projection replayed coordinate-for-coordinate through the same
      // literal matrix
      s"""WITH $duckRpProjCte
         |SELECT vec_id, CAST(j AS BIGINT) AS j, p FROM pj""".stripMargin),

    // Exact top-k over the PROJECTED vectors — the reduced-dimension
    // scan whose recall vs the 64-dim exact baseline SimilaritySpec pins.
    Gate("ann_rp", (s, dir) => {
      val proj = Similarity.projectVectors(
        Tables(s, dir, "embeddings"), outDim = 16, dim = embeddingsDim(s, dir))
        .select(col("vec_id"), col("proj").as("embedding"))
      Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") % 50 === 0), 5)
        .select(col("q_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      duckRpTopkSql),

    // Corpus-scale ANN: nearest neighbor for EVERY vector via IVF-list
    // self-join — the curation shape with no broadcastable query set.
    Gate("ann_join", (s, dir) => {
      Similarity.ivfSelfTopK(Tables(s, dir, "embeddings"), k = 1)
        .select(col("vec_id"), col("neighbor"), col("cos"),
          col("rk").cast("long").as("rk"))
    },
      // corpus-vs-corpus top-1 within shared IVF lists: same centroid/assign
      // CTEs as ann_ivf, pair space from the list self-join
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
        |cents AS (SELECT vec_id AS c_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id % 40 = 0),
        |asg AS (
        |  SELECT vec_id, v, nrm, c_id FROM (
        |    SELECT n.vec_id, n.v, n.nrm, c.c_id,
        |           row_number() OVER (PARTITION BY n.vec_id
        |             ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
        |                      c.c_id) AS rn
        |    FROM n CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |s AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
        |         round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
        |  FROM asg a JOIN asg b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor) AS rk FROM s)
        |SELECT vec_id, neighbor, cos, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 1""".stripMargin),

    // Deterministic Lloyd k-means over the embedding corpus — the trainer
    // behind IVF's coarse quantizer and the clustering step of
    // cluster-then-sample data curation. Centroids broadcast as literals;
    // each iteration is one corpus scan, no shuffle of the corpus.
    Gate("ann_kmeans", (s, dir) => {
      Similarity.kMeans(Tables(s, dir, "embeddings"), k = 8, iters = 3)
    },
      duckKmeansSql)
  )
}
