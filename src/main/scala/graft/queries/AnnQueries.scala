package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann

import Shared._

/** Vector search over `embeddings`: exact and approximate top-k (IVF,
  * PQ, quantized, k-means), reranking, recall audits and embedding-based
  * dedup. */
object AnnQueries {

  /** ann_ivf_topk: recompute Ann.bucketedTopK independently — the
    * integer-exact hyperplane signature (q_j = floor(v_j·10⁶); weight =
    * 3-round Lehmer mix of (1009h + j), centered; bit = sign of the exact
    * BIGINT dot) makes the bucket assignment engine-independent, then
    * top-5 cosine within the query's bucket. Spark j is 0-based,
    * DuckDB list index is 1-based: seeds align as (1009h + j_duck).
    */
  private def annCosineSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)
      |SELECT query_id, neighbor_id, cosine, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |         ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |        ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC, c.vec_id) AS rank
      |  FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def annIvfSql: String = {
    def wExpr(h: Int) =
      s"((((($h*1009 + j) % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) * 48271 % 2147483647) - 1073741823"
    val bucketTerms = (0 until 8).map { h =>
      s"CASE WHEN list_sum([qv[j] * (${wExpr(h)}) FOR j IN range(1, len(qv)+1)]) >= 0 THEN ${1L << h} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH n AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    [CAST(floor(x * 1000000) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qv
       |  FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, e,
       |    sqrt(list_dot_product(e, e)) AS nrm,
       |    $bucketTerms AS bucket
       |  FROM n)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rank
       |  FROM sigs q JOIN sigs c ON q.bucket = c.bucket
       |    AND q.vec_id <= 10 AND c.vec_id <> q.vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Shared CTE chain replaying Ann.quantizedTopK: int8 symmetric
    * quantization (sc = max|vᵢ|/127, both engines branch on sc = 0; round
    * half away from zero; clamp ±127) → qranked(query_id, neighbor_id,
    * qcosine, rank) by the pure-BIGINT quantized dot over quantized norms
    * — every step is exact integer or a single IEEE double op in the same
    * order as the engine. */
  private val annQuantizedCtes: String =
    """v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |s AS (
      |  SELECT vec_id, e, list_max([abs(x) FOR x IN e]) / 127.0 AS sc FROM v),
      |qq AS (
      |  SELECT vec_id,
      |    CASE WHEN sc = 0 THEN [CAST(0 AS BIGINT) FOR x IN e]
      |         ELSE [CAST(greatest(-127, least(127,
      |                CASE WHEN x / sc >= 0 THEN floor(x / sc + 0.5)
      |                     ELSE ceil(x / sc - 0.5) END)) AS BIGINT) FOR x IN e]
      |    END AS q
      |  FROM s),
      |n AS (
      |  SELECT vec_id, q,
      |    sqrt(CAST(list_sum([x * x FOR x IN q]) AS DOUBLE)) AS nrm
      |  FROM qq),
      |qranked AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
      |         ELSE round(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS DOUBLE)
      |                    / (a.nrm * b.nrm), 6) END AS qcosine,
      |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |      CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
      |           ELSE round(CAST(list_sum([a.q[i] * b.q[i] FOR i IN range(1, len(a.q) + 1)]) AS DOUBLE)
      |                      / (a.nrm * b.nrm), 6) END DESC, b.vec_id) AS rank
      |  FROM n a JOIN n b ON a.vec_id <= 10 AND b.vec_id <> a.vec_id)""".stripMargin

  /** ann_kmeans_ivf: replay deterministic Lloyd's k-means (3 unrolled
    * iterations, exact BIGINT micro-space distances, trunc-division
    * means, empty cells keep their centroid), then the IVF search:
    * corpus→nearest cell, queries→2 nearest cells, full-precision
    * cosine within probed cells, top-5.
    */
  /** Nearest-cell argmin CTE body over `qvs` × the `src` centroid
    * relation (BIGINT micro-space distances, ties to the lowest cell) —
    * shared by the kmeans replays. */
  private def kmeansArgmin(src: String, filter: String, rnCond: String,
                           dim: Int): String =
    s"""  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        list_sum([(v.qv[d] - c.cq[d]) * (v.qv[d] - c.cq[d])
       |                  FOR d IN range(1, ${dim + 1})]), c.cell) AS rn
       |    FROM qvs v, $src c$filter)
       |  WHERE $rnCond""".stripMargin

  /** Deterministic Lloyd's replay CTEs: `qvs` (micro-quantized
    * embeddings), `c0` (k lowest-id seeds), and per-iteration
    * assign/sum/mean/carry rounds ending at `c$iters` — shared by
    * ann_kmeans_ivf and d_semdedup. */
  private def kmeansCascade(iters: Int, kCells: Int, dim: Int): String = {
    val base =
      s"""qvs AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |    [CAST(floor(x * 1e6) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qv
         |  FROM embeddings),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell, qv AS cq
         |  FROM (SELECT vec_id, qv FROM qvs ORDER BY vec_id LIMIT $kCells))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (
         |${kmeansArgmin(s"c${i - 1}", "", "rn = 1", dim)}),
         |s$i AS (
         |  SELECT a.cell, d, sum(v.qv[d]) AS s, count(*) AS n
         |  FROM (SELECT vec_id, cell, unnest(range(1, ${dim + 1})) AS d FROM a$i) a
         |  JOIN qvs v USING (vec_id)
         |  GROUP BY a.cell, d),
         |n$i AS (
         |  SELECT cell,
         |    list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END ORDER BY d) AS cq
         |  FROM s$i GROUP BY cell),
         |c$i AS (
         |  SELECT o.cell, coalesce(nn.cq, o.cq) AS cq
         |  FROM c${i - 1} o LEFT JOIN n$i nn USING (cell))""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private def annIvfPqCtes: String = {
    val (cellIters, kCells, dim) = (3, 8, 64)
    val (pqIters, nSub, kCodes, subDim, kNb, nProbe) = (2, 8, 16, 8, 5, 2)
    def pqArgmin(src: String) =
      s"""  SELECT vec_id, sub, code FROM (
         |    SELECT v.vec_id, v.sub, c.code,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
         |        list_sum([(v.sq[d] - c.cq[d]) * (v.sq[d] - c.cq[d])
         |                  FOR d IN range(1, ${subDim + 1})]), c.code) AS rn
         |    FROM sv v JOIN $src c ON v.sub = c.sub)
         |  WHERE rn = 1""".stripMargin
    val pqRounds = (1 to pqIters).map { i =>
      s"""pa$i AS (
         |${pqArgmin(s"pc${i - 1}")}),
         |ps$i AS (
         |  SELECT a.sub, a.code, d, sum(v.sq[d]) AS s, count(*) AS n
         |  FROM (SELECT vec_id, sub, code, unnest(range(1, ${subDim + 1})) AS d FROM pa$i) a
         |  JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub
         |  GROUP BY a.sub, a.code, d),
         |pn$i AS (
         |  SELECT sub, code,
         |    list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END ORDER BY d) AS cq
         |  FROM ps$i GROUP BY sub, code),
         |pc$i AS (
         |  SELECT o.sub, o.code, coalesce(nn.cq, o.cq) AS cq
         |  FROM pc${i - 1} o LEFT JOIN pn$i nn ON nn.sub = o.sub AND nn.code = o.code)""".stripMargin
    }.mkString(",\n")
    s"""${kmeansCascade(cellIters, kCells, dim)},
       |ca AS (
       |${kmeansArgmin(s"c$cellIters", "", "rn = 1", dim)}),
       |rvs AS MATERIALIZED (
       |  SELECT q.vec_id, ca.cell,
       |    [q.qv[d] - c.cq[d] FOR d IN range(1, ${dim + 1})] AS rv
       |  FROM qvs q JOIN ca USING (vec_id) JOIN c$cellIters c ON c.cell = ca.cell),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, cell, CAST(sub AS BIGINT) AS sub,
       |    list_slice(rv, sub * $subDim + 1, sub * $subDim + $subDim) AS sq
       |  FROM rvs, (SELECT unnest(range(0, $nSub)) AS sub)),
       |sd AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS code
       |  FROM (SELECT DISTINCT vec_id FROM sv ORDER BY vec_id LIMIT $kCodes)),
       |pc0 AS (SELECT v.sub, s.code, v.sq AS cq FROM sv v JOIN sd s USING (vec_id)),
       |$pqRounds,
       |paf AS (
       |${pqArgmin(s"pc$pqIters")}),
       |qp AS (
       |${kmeansArgmin(s"c$cellIters", " WHERE v.vec_id <= 10", s"rn <= $nProbe", dim)}),
       |rq AS (
       |  SELECT qp.vec_id AS query_id, qp.cell,
       |    [q.qv[d] - c.cq[d] FOR d IN range(1, ${dim + 1})] AS rv
       |  FROM qp JOIN qvs q ON q.vec_id = qp.vec_id
       |  JOIN c$cellIters c ON c.cell = qp.cell),
       |qsv AS (
       |  SELECT query_id, cell, CAST(sub AS BIGINT) AS sub,
       |    list_slice(rv, sub * $subDim + 1, sub * $subDim + $subDim) AS sq
       |  FROM rq, (SELECT unnest(range(0, $nSub)) AS sub)),
       |dtb AS MATERIALIZED (
       |  SELECT q.query_id, q.cell, q.sub, c.code,
       |    list_sum([(q.sq[d] - c.cq[d]) * (q.sq[d] - c.cq[d])
       |              FOR d IN range(1, ${subDim + 1})]) AS d
       |  FROM qsv q JOIN pc$pqIters c ON q.sub = c.sub),
       |sc AS (
       |  SELECT dtb.query_id, a.vec_id AS neighbor_id,
       |    CAST(sum(dtb.d) AS BIGINT) AS adc_dist
       |  FROM (SELECT paf.vec_id, paf.sub, paf.code, ca.cell
       |        FROM paf JOIN ca USING (vec_id)) a
       |  JOIN dtb ON a.cell = dtb.cell AND a.sub = dtb.sub AND a.code = dtb.code
       |  WHERE a.vec_id <> dtb.query_id
       |  GROUP BY dtb.query_id, a.vec_id),
       |ivf5 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, adc_dist, rank FROM (
       |    SELECT query_id, neighbor_id, adc_dist,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |    FROM sc)
       |  WHERE rank <= $kNb)""".stripMargin
  }

  private def embStats(s: SparkSession, dir: String): DataFrame = {
    val nrm = sqrt(Ann.dot(col("embedding"), col("embedding")))
    t(s, dir, "embeddings")
      .select(col("label"), nrm.as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 5).as("avg_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy("label")
  }

  private def embStatsSql: String =
    """SELECT label, count(*) AS n, round(avg(nrm), 5) AS avg_norm,
      |  round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm
      |FROM (SELECT label,
      |        sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |      FROM embeddings)
      |GROUP BY label ORDER BY label""".stripMargin

  private def annTopK(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Retrieval-training hard negatives: per query, top-3 corpus vectors
    * inside the [0.10, 0.30) cosine band — similar enough to be hard,
    * below the near-dup band where they would be false negatives. */
  private def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.hardNegatives(embs, embs.filter(col("vec_id") <= 10), k = 3,
        tauLo = 0.10, tauHi = 0.30)
      .orderBy("query_id", "rank")
  }

  // q_hard_negatives: same cosine+rank replay as ann_cosine_topk with
  // the [0.10, 0.30) band filter applied before ranking.
  private def hardNegativesSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |         ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END AS cosine
      |  FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |SELECT query_id, neighbor_id, cosine, rank FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored WHERE cosine >= 0.10 AND cosine < 0.30)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Q2/Q3 scale path: IVF-bucketed top-k — integer-exact hyperplane
    * buckets (DuckDB recomputes signatures bit-for-bit), search confined
    * to the query's cell. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.bucketedTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Q2/Q3 memory-bound scale path: int8 scalar-quantized top-k — 4×
    * smaller resident corpus, exact-integer dots (DuckDB replays the
    * quantization + ranking bit-for-bit). */
  private def annQuantized(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.quantizedTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  private def annQuantizedSql: String =
    s"""WITH $annQuantizedCtes
       |SELECT query_id, neighbor_id, qcosine, rank FROM qranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Q2/Q3 two-stage retrieval: quantized prefilter (top-20 candidates)
    * → full-precision exact-cosine rerank to top-5. */
  private def annRerank(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.rerankTopK(embs, embs.filter(col("vec_id") <= 10), k = 5, oversample = 4)
      .orderBy("query_id", "rank")
  }

  /** ann_rerank_topk: quantized prefilter (top k·oversample candidates)
    * re-scored with FULL-precision exact cosine — the production
    * retrieval shape. DuckDB replays both stages. */
  private def annRerankSql: String =
    s"""WITH $annQuantizedCtes,
       |cand AS (SELECT query_id, neighbor_id FROM qranked WHERE rank <= 20),
       |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM v)
       |SELECT query_id, neighbor_id, cosine, rank FROM (
       |  SELECT c.query_id, c.neighbor_id,
       |    CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |         ELSE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) END AS cosine,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |        ELSE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) END DESC,
       |               c.neighbor_id) AS rank
       |  FROM cand c JOIN f a ON c.query_id = a.vec_id
       |              JOIN f b ON c.neighbor_id = b.vec_id)
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private def embNearDups(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDups(t(s, dir, "embeddings"), threshold = 0.35)
      .orderBy("id_a", "id_b")

  /** d_emb_neardups: exact all-pairs cosine ≥ 0.35 (the engine falls back
    * to Ann.exactCosinePairs at thresholds where banding can't reach the
    * recall target). */
  private def embNearDupsSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  /** SemDeDup (Abbas et al. 2023): kmeans-cluster-scoped semantic
    * near-duplicate removal over the embeddings table. */
  private def semDedupQ(s: SparkSession, dir: String): DataFrame =
    Ann.semDedup(t(s, dir, "embeddings"), threshold = 0.35)
      .orderBy("vec_id")

  /** d_semdedup: replay SemDeDup — the shared Lloyd's cascade assigns
    * every vector to its final cell; within a cell a vector is removed
    * iff an earlier-id member has cosine ≥ 0.35 (upper-triangular
    * rule); the reported dominator is the lowest such id with its
    * cosine. */
  private def semDedupSql: String = {
    val (iters, kCells, dim, tau) = (3, 8, 64, "0.35")
    s"""WITH ${kmeansCascade(iters, kCells, dim)},
       |ca AS (
       |${kmeansArgmin(s"c$iters", "", "rn = 1", dim)}),
       |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM qvs),
       |pr AS (
       |  SELECT b.vec_id AS vec_id, a.cell AS cell, a.vec_id AS dup_of,
       |    CASE WHEN fa.nrm * fb.nrm = 0 THEN 0.0
       |         ELSE round(list_dot_product(fa.e, fb.e) / (fa.nrm * fb.nrm), 6) END AS cosine
       |  FROM ca a JOIN ca b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN f fa ON fa.vec_id = a.vec_id
       |  JOIN f fb ON fb.vec_id = b.vec_id)
       |SELECT vec_id, cell, min(dup_of) AS dup_of,
       |  arg_min(cosine, dup_of) AS cosine
       |FROM pr WHERE cosine >= $tau
       |GROUP BY vec_id, cell ORDER BY vec_id""".stripMargin
  }

  /** PQ-ADC top-k (Jégou et al. 2011): product-quantized corpus,
    * asymmetric-distance search — all-integer, oracle-exact. */
  private def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.pqTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
  }

  /** ann_pq_adc: replay product quantization — per-subspace Lloyd's
    * (2 unrolled iterations over the grouped (sub, code) codebooks,
    * BIGINT micro-space distances, trunc-division means, empty codes
    * carry), corpus PQ-encoding, and Asymmetric Distance Computation:
    * per-query (sub, code) distance tables, neighbor distance = exact
    * BIGINT sum of 8 table lookups, top-5. */
  private def annPqAdcSql: String = {
    val (iters, nSub, kCodes, subDim, kNb) = (2, 8, 16, 8, 5)
    def argmin(src: String, filter: String) =
      s"""  SELECT vec_id, sub, code FROM (
         |    SELECT v.vec_id, v.sub, c.code,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY
         |        list_sum([(v.sq[d] - c.cq[d]) * (v.sq[d] - c.cq[d])
         |                  FOR d IN range(1, ${subDim + 1})]), c.code) AS rn
         |    FROM sv v JOIN $src c ON v.sub = c.sub$filter)
         |  WHERE rn = 1""".stripMargin
    val base =
      s"""qvs AS (
         |  SELECT vec_id,
         |    [CAST(floor(x * 1e6) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qv
         |  FROM embeddings),
         |sv AS (
         |  SELECT vec_id, CAST(sub AS BIGINT) AS sub,
         |    list_slice(qv, sub * $subDim + 1, sub * $subDim + $subDim) AS sq
         |  FROM qvs, (SELECT unnest(range(0, $nSub)) AS sub)),
         |sd AS (
         |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS code
         |  FROM (SELECT DISTINCT vec_id FROM qvs ORDER BY vec_id LIMIT $kCodes)),
         |pc0 AS (SELECT v.sub, s.code, v.sq AS cq FROM sv v JOIN sd s USING (vec_id))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""pa$i AS (
         |${argmin(s"pc${i - 1}", "")}),
         |ps$i AS (
         |  SELECT a.sub, a.code, d, sum(v.sq[d]) AS s, count(*) AS n
         |  FROM (SELECT vec_id, sub, code, unnest(range(1, ${subDim + 1})) AS d FROM pa$i) a
         |  JOIN sv v ON v.vec_id = a.vec_id AND v.sub = a.sub
         |  GROUP BY a.sub, a.code, d),
         |pn$i AS (
         |  SELECT sub, code,
         |    list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END ORDER BY d) AS cq
         |  FROM ps$i GROUP BY sub, code),
         |pc$i AS (
         |  SELECT o.sub, o.code, coalesce(nn.cq, o.cq) AS cq
         |  FROM pc${i - 1} o LEFT JOIN pn$i nn ON nn.sub = o.sub AND nn.code = o.code)""".stripMargin
    }
    s"""WITH ${(base +: rounds).mkString(",\n")},
       |paf AS (
       |${argmin(s"pc$iters", "")}),
       |dtb AS (
       |  SELECT v.vec_id AS query_id, v.sub, c.code,
       |    list_sum([(v.sq[d] - c.cq[d]) * (v.sq[d] - c.cq[d])
       |              FOR d IN range(1, ${subDim + 1})]) AS d
       |  FROM sv v JOIN pc$iters c ON v.sub = c.sub
       |  WHERE v.vec_id <= 10),
       |sc AS (
       |  SELECT dtb.query_id, a.vec_id AS neighbor_id,
       |    CAST(sum(dtb.d) AS BIGINT) AS adc_dist
       |  FROM paf a JOIN dtb ON a.sub = dtb.sub AND a.code = dtb.code
       |  WHERE a.vec_id <> dtb.query_id
       |  GROUP BY dtb.query_id, a.vec_id)
       |SELECT query_id, neighbor_id, adc_dist,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |FROM sc QUALIFY rank <= $kNb ORDER BY query_id, rank""".stripMargin
  }

  /** IVFADC composed index ([[Ann.ivfPqTopK]], Jégou et al. 2011):
    * coarse-cell routing + exact-integer ADC on residual PQ codes —
    * the resident-index scale path composing ann_kmeans_ivf's routing
    * with ann_pq_adc's scoring. */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.ivfPqTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
  }

  /** ann_ivfpq: replay IVFADC — the coarse Lloyd's cascade + cell
    * assignment, corpus RESIDUALS (qv − home-cell centroid) sliced to
    * subvectors, the PQ cascade trained on residual subvecs, per-query
    * per-probed-cell residual distance tables, and cell-routed exact
    * BIGINT ADC sums. */
  private def annIvfPqSql: String =
    s"""WITH $annIvfPqCtes
       |SELECT query_id, neighbor_id, adc_dist, rank FROM ivf5
       |ORDER BY query_id, rank""".stripMargin

  /** Recall self-audit of the IVFADC path ([[Ann.ivfPqTopK]] vs
    * [[Ann.bruteForceTopK]] — the ann_recall_audit shape): what the
    * composed coarse-quantizer + residual-code approximation costs on
    * THIS corpus. */
  private def annIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") <= 10)
    val exact = Ann.bruteForceTopK(embs, q, 5).select("query_id", "neighbor_id")
    val approx = Ann.ivfPqTopK(embs, q, 5).select("query_id", "neighbor_id")
    val hit = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_exact").cast("double"), 6)).as("recall"))
  }

  /** ann_ivfpq_recall: the IVFADC top-5 (shared CTE block) against the
    * full-precision brute-force top-5, one summary row. */
  private def annIvfPqRecallSql: String =
    s"""WITH $annIvfPqCtes,
       |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM qvs),
       |bf5 AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
       |          c.vec_id) AS rank
       |    FROM (SELECT * FROM f WHERE vec_id <= 10) q
       |    JOIN f c ON c.vec_id <> q.vec_id)
       |  WHERE rank <= 5),
       |hit AS (SELECT a.query_id, a.neighbor_id FROM ivf5 a
       |        JOIN bf5 b USING (query_id, neighbor_id))
       |SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM bf5) AS n_exact,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ivf5) AS n_approx,
       |  (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
       |  CASE WHEN (SELECT count(*) FROM bf5) = 0 THEN 0.0
       |       ELSE round((SELECT CAST(count(*) AS DOUBLE) FROM hit)
       |            / (SELECT CAST(count(*) AS DOUBLE) FROM bf5), 6) END AS recall"""
      .stripMargin

  /** Trained-IVF ANN: deterministic Lloyd's k-means (exact integer
    * micro-space — partitioning/order-independent) trains 8 cells in 3
    * iterations; queries probe their 2 nearest cells; members score by
    * full-precision cosine. The oracle replays every training iteration
    * (unrolled), the assignments, and the search bit-for-bit.
    */
  private def annKmeansIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.kmeansIvfTopK(embs, embs.filter(col("vec_id") <= 10),
      k = 5, kCells = 8, iters = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  private def annKmeansIvfSql: String = {
    val (iters, kCells, nProbe, k, dim) = (3, 8, 2, 5, 64)
    def argmin(src: String, filter: String, rnCond: String) =
      kmeansArgmin(src, filter, rnCond, dim)
    s"""WITH ${kmeansCascade(iters, kCells, dim)},
       |ca AS (
       |${argmin(s"c$iters", "", "rn = 1")}),
       |qp AS (
       |${argmin(s"c$iters", " WHERE v.vec_id <= 10", s"rn <= $nProbe")}),
       |f AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM qvs),
       |scored AS (
       |  SELECT qp.vec_id AS query_id, ca.vec_id AS neighbor_id,
       |    CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |         ELSE round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) END AS cosine
       |  FROM qp JOIN ca USING (cell)
       |  JOIN f a ON a.vec_id = qp.vec_id
       |  JOIN f b ON b.vec_id = ca.vec_id
       |  WHERE ca.vec_id <> qp.vec_id)
       |SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |FROM scored QUALIFY rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Greedy k-center coreset over the embedding table
    * ([[graft.operators.Ann.kCenterCoreset]]): 8 farthest-point picks
    * with exact-integer cosine-distance gains — the diversity-seeking
    * data-selection seat beside [[semDedup]]-style redundancy removal. */
  private def kCenterQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.kCenterCoreset(t(s, dir, "embeddings"), k = 8)
      .orderBy("sel_order")

  /** d_kcenter_coreset: replay greedy farthest-point — smallest id
    * seeds, 7 unrolled rounds of per-point min cosine distance to the
    * center set (d = 10⁶ − rha(round(cos,6)·10⁶)) and (d desc, id)
    * argmax. */
  private def kCenterSql: String = {
    def rnd(r: Int): String = {
      val prev = s"c${r - 1}"
      s"""m$r AS (
         |  SELECT p.vec_id AS pid,
         |    min(1000000 - CAST(CASE WHEN x >= 0 THEN floor(x + 0.5)
         |                            ELSE ceil(x - 0.5) END AS BIGINT)) AS md
         |  FROM (
         |    SELECT p.vec_id, 1000000.0 * (CASE WHEN p.nrm * c.nrm = 0 THEN 0.0
         |      ELSE round(list_dot_product(p.e, c.e) / (p.nrm * c.nrm), 6) END) AS x
         |    FROM n p, n c JOIN $prev s ON s.vec_id = c.vec_id) p(vec_id, x)
         |  GROUP BY 1),
         |n$r AS (SELECT CAST($r AS BIGINT) AS sel_order, pid AS vec_id,
         |          md AS gain_micro
         |        FROM m$r ORDER BY md DESC, pid LIMIT 1),
         |c$r AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM n$r)"""
        .stripMargin
    }
    s"""WITH n AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |      CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |c1 AS (SELECT CAST(1 AS BIGINT) AS sel_order, vec_id,
       |         CAST(2000000 AS BIGINT) AS gain_micro
       |       FROM (SELECT vec_id FROM n ORDER BY vec_id LIMIT 1)),
       |${(2 to 8).map(rnd).mkString(",\n")}
       |SELECT sel_order, vec_id, CAST(gain_micro AS BIGINT) AS gain_micro
       |FROM c8 ORDER BY sel_order""".stripMargin
  }

  /** IVF cell-balance report ([[graft.operators.Ann.cellSizes]], the
    * trained 8-cell index over the embeddings corpus). */
  private def cellBalanceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.cellSizes(t(s, dir, "embeddings"), k = 8, iters = 3)
      .orderBy("cell")

  /** ann_cell_balance: the shared Lloyd's cascade + final-cell argmin
    * assignment, per-cell counts, exact ppm skew. */
  private def cellBalanceSql: String =
    s"""WITH ${kmeansCascade(3, 8, 64)},
       |ca AS (
       |${kmeansArgmin("c3", "", "rn = 1", 64)}),
       |cs AS (SELECT cell, count(*) AS n_vecs FROM ca GROUP BY 1),
       |tt AS (SELECT max(n_vecs) AS mx, CAST(sum(n_vecs) AS BIGINT) AS n,
       |              count(*) AS k FROM cs)
       |SELECT cs.cell, cs.n_vecs,
       |  CAST((tt.mx * tt.k * 1000000) // tt.n AS BIGINT) / 1000000.0 AS skew
       |FROM cs, tt ORDER BY cell""".stripMargin

  /** LLM-pipeline: semantic decontamination — per corpus embedding, the
    * best-cosine benchmark match (eval set = vec_id <= 50, broadcast)
    * and the leakage flag at 0.35; catches paraphrase-level leakage the
    * n-gram guard in `d_decontam_report` cannot.
    */
  private def semanticDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Decontamination.semanticOverlapReport(
      embs.filter(col("vec_id") > 50), embs.filter(col("vec_id") <= 50),
      threshold = 0.35)
      .orderBy("id")
  }

  // d_semantic_decontam: per corpus vector (vec_id > 50) the
  // best-cosine eval match (vec_id <= 50); argmax replayed as
  // rank-1 of (cosine DESC, bench_id ASC) — the same deterministic
  // tie-break as the Spark max(struct(cosine, -bench_id)).
  private def semanticDecontamSql: String =
    """WITH n AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |s AS (
      |  SELECT c.vec_id AS id, b.vec_id AS bench_id,
      |    CASE WHEN c.nrm * b.nrm = 0 THEN 0.0
      |         ELSE round(list_dot_product(c.e, b.e) / (c.nrm * b.nrm), 6) END AS cosine
      |  FROM n c JOIN n b ON c.vec_id > 50 AND b.vec_id <= 50),
      |best AS (SELECT id, bench_id, cosine,
      |           row_number() OVER (PARTITION BY id ORDER BY cosine DESC, bench_id) AS rn
      |         FROM s)
      |SELECT id, CAST(bench_id AS BIGINT) AS best_match, cosine AS best_cosine,
      |  cosine >= 0.35 AS contaminated
      |FROM best WHERE rn = 1 ORDER BY id""".stripMargin

  /** Clustering-agreement scorecard
    * ([[graft.search.Evaluation.clusterAgreement]]): the trained k-means
    * cells (`ann_kmeans_ivf`'s Lloyd's, 8 cells × 3 iters) graded
    * against the embeddings table's ground-truth labels — exact-pair
    * ARI + micro-nat NMI in one row. */
  private def clusterAgreementQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.search.Evaluation.clusterAgreement(
      graft.operators.Ann.cellAssignments(embs, k = 8, iters = 3)
        .select(col("vec_id"), col("cell").as("ca")),
      embs.select(col("vec_id"), col("label").cast("long").as("cb")),
      idCol = "vec_id")
  }

  /** j_cluster_agreement: replay the Lloyd's cascade → cell
    * assignments, then the contingency-table metrics — pair
    * combinatorics exact (HUGEINT cross products mirror the Spark
    * DECIMAL(38,0) path), NMI's pointwise ln terms micro-rounded
    * half-away BEFORE the count-weighted BIGINT sums so the 1/n
    * factors cancel exactly. */
  private def clusterAgreementSql: String = {
    val (iters, kCells, dim) = (3, 8, 64)
    def rhaB(l: String) =
      s"CAST(CASE WHEN $l >= 0 THEN floor($l + 0.5) ELSE ceil($l - 0.5) END AS BIGINT)"
    s"""WITH ${kmeansCascade(iters, kCells, dim)},
       |asg AS (
       |${kmeansArgmin(s"c$iters", "", "rn = 1", dim)}),
       |ct AS (
       |  SELECT asg.cell AS cca, CAST(e.label AS BIGINT) AS ccb,
       |    CAST(count(*) AS BIGINT) AS nij
       |  FROM asg JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |ra AS (SELECT cca, CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY 1),
       |rb AS (SELECT ccb, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
       |tot AS (SELECT CAST(sum(ai) AS BIGINT) AS n, count(*) AS ka FROM ra),
       |kbc AS (SELECT count(*) AS kb FROM rb),
       |nt AS (
       |  SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sum_idx,
       |    CAST(sum(nij * ${rhaB("l")}) AS BIGINT) AS i_micro
       |  FROM (
       |    SELECT ct.nij,
       |      ln(CAST(ct.nij AS DOUBLE) / CAST(ra.ai AS DOUBLE)
       |         * CAST(tot.n AS DOUBLE) / CAST(rb.bj AS DOUBLE)) * 1000000 AS l
       |    FROM ct JOIN ra USING (cca) JOIN rb USING (ccb), tot)),
       |hha AS (
       |  SELECT CAST(sum(ai * ${rhaB("l")}) AS BIGINT) AS ha,
       |    CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS sum_a
       |  FROM (SELECT ai, ln(CAST(ai AS DOUBLE) / CAST(tot.n AS DOUBLE)) * 1000000 AS l
       |        FROM ra, tot)),
       |hhb AS (
       |  SELECT CAST(sum(bj * ${rhaB("l")}) AS BIGINT) AS hb,
       |    CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS sum_b
       |  FROM (SELECT bj, ln(CAST(bj AS DOUBLE) / CAST(tot.n AS DOUBLE)) * 1000000 AS l
       |        FROM rb, tot)),
       |fin AS (
       |  SELECT tot.n, tot.ka, kbc.kb, nt.i_micro, hha.ha, hhb.hb,
       |    2 * (CAST(nt.sum_idx AS HUGEINT) * (CAST(tot.n AS HUGEINT) * (tot.n - 1) // 2)
       |         - CAST(hha.sum_a AS HUGEINT) * hhb.sum_b) AS num,
       |    (CAST(hha.sum_a AS HUGEINT) + hhb.sum_b)
       |      * (CAST(tot.n AS HUGEINT) * (tot.n - 1) // 2)
       |      - 2 * CAST(hha.sum_a AS HUGEINT) * hhb.sum_b AS den
       |  FROM tot, kbc, nt, hha, hhb)
       |SELECT n AS n_items, ka, kb,
       |  CASE WHEN den = 0 THEN 1.0
       |       ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS ari,
       |  CASE WHEN ha + hb = 0 THEN 1.0
       |       ELSE round(CAST(2 * i_micro AS DOUBLE) / CAST(-(ha + hb) AS DOUBLE), 6) END AS nmi
       |FROM fin""".stripMargin
  }

  /** MMR-diversified retrieval: greedy λ-tradeoff re-rank of each
    * query's cosine top-20 down to 5 diverse hits ([[graft.search.Mmr]]).
    */
  private def mmrRerankQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.search.Mmr.rerank(embs, embs.filter(col("vec_id") <= 2),
        nCandidates = 20, k = 5, lambda = 0.7)
      .orderBy("query_id", "rank")
  }

  /** ann_mmr_rerank: the greedy MMR selection UNROLLED per rank (k=5,
    * λ=0.7, top-20 cosine candidates for queries 0..2). Each step:
    * anti-join out the selected, max-sim against the selected set,
    * argmax of the EXACT INTEGER score `7·rel_u − 3·ms_u` in 10⁻⁷ units
    * with id tie-break — the arithmetic `Mmr.rerank` runs inside each
    * group. Integer units because a double `0.7·rel − 0.3·ms` over 6-dp
    * inputs lands on a 7th-decimal HALF for every candidate, exactly
    * where Spark's decimal HALF_UP and DuckDB's binary-nearest round
    * disagree; micro-quantizing the round-6 cosines (×1e6 is within
    * ~1e-4 of an integer, so both engines agree) removes the boundary. */
  private def mmrRerankSql: String = {
    def step(i: Int): String = {
      val p = i - 1
      s"""rem$p AS (SELECT c.* FROM cand c ANTI JOIN sel$p s ON s.qid = c.qid AND s.cid = c.cid),
         |ms$p AS (SELECT r.qid, r.cid, r.rel, max(s.s_u) AS ms_u
         |  FROM rem$p r JOIN sim s ON s.qid = r.qid AND s.ia = r.cid
         |  JOIN sel$p t ON t.qid = s.qid AND t.cid = s.ib
         |  GROUP BY 1, 2, 3),
         |p$i AS (SELECT qid, cid, m.rel, 7 * cand.rel_u - 3 * m.ms_u AS mmr_u
         |  FROM ms$p m JOIN cand USING (qid, cid)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY 7 * cand.rel_u - 3 * m.ms_u DESC, cid) = 1),
         |sel$i AS (SELECT qid, cid FROM sel$p UNION ALL SELECT qid, cid FROM p$i),""".stripMargin
    }
    val steps = (2 to 5).map(step).mkString("\n")
    val unions = (1 to 5).map(i =>
      s"SELECT qid AS query_id, CAST($i AS BIGINT) AS rank, cid AS vec_id, rel, CAST(mmr_u AS DOUBLE) / 10000000.0 AS mmr FROM p$i")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id <= 2),
       |cand AS (SELECT qid, cid, rel, CAST(round(rel * 1000000, 0) AS BIGINT) AS rel_u, cv, cn FROM (
       |  SELECT qid, cid, rel, cv, cn FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS cid,
       |      CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |           ELSE round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) END AS rel,
       |      c.v AS cv, c.nrm AS cn
       |    FROM q JOIN e c ON q.vec_id <> c.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) <= 20)),
       |sim AS (SELECT qid, ia, ib, CAST(round(s * 1000000, 0) AS BIGINT) AS s_u FROM (
       |  SELECT a.qid, a.cid AS ia, b.cid AS ib,
       |    CASE WHEN a.cn * b.cn = 0 THEN 0.0
       |         ELSE round(list_dot_product(a.cv, b.cv) / (a.cn * b.cn), 6) END AS s
       |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid)),
       |p1 AS (SELECT qid, cid, rel, 7 * rel_u AS mmr_u FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY qid
       |    ORDER BY 7 * rel_u DESC, cid) = 1),
       |sel1 AS (SELECT qid, cid FROM p1),
       |$steps
       |final AS ($unions)
       |SELECT query_id, rank, vec_id, rel, mmr FROM final
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Deterministic contrastive (anchor, positive) pair generation over
    * the first 50 docs ([[graft.ingest.Augment.contrastivePairs]]).
    */
  private def contrastivePairsQ(s: SparkSession, dir: String): DataFrame =
    graft.ingest.Augment.contrastivePairs(
      t(s, dir, "documents").filter(col("doc_id") < 50))
      .orderBy("doc_id")

  /** q_contrastive_pairs: deterministic every-5th-token drop, md5 pair
    * hashes (DuckDB list lambda indexes are 1-based; Spark's are
    * 0-based — the predicates below are the same positions). */
  private def contrastivePairsSql: String =
    """WITH d AS (SELECT doc_id,
      |    string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents WHERE doc_id < 50),
      |k AS (SELECT doc_id, w, list_filter(w, (x, i) -> i % 5 != 0) AS kept FROM d)
      |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
      |  CAST(len(kept) AS BIGINT) AS n_kept,
      |  md5(array_to_string(w, ' ')) AS anchor_hash,
      |  md5(array_to_string(kept, ' ')) AS positive_hash
      |FROM k ORDER BY doc_id""".stripMargin

  /** ANN recall audit: the sign-LSH bucketed search scored against the
    * exact cosine top-5 — the engine measuring its own index, like
    * `d_lsh_quality` does for MinHash.
    */
  private def annRecallQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") <= 10)
    val exact = Ann.bruteForceTopK(embs, q, 5).select("query_id", "neighbor_id")
    val approx = Ann.bucketedTopK(embs, q, 5).select("query_id", "neighbor_id")
    val hit = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_exact").cast("double"), 6)).as("recall"))
  }

  /** ann_recall_audit: recall@5 of the sign-LSH bucketed search against
    * the exact top-5 — BOTH pipelines replayed as nested subqueries of
    * their own oracle SQL, counts exact. */
  private def annRecallSql: String =
    s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($annCosineSql)),
       |approx AS (SELECT query_id, neighbor_id FROM (${annIvfSql})),
       |hit AS (SELECT query_id, neighbor_id FROM approx
       |        INTERSECT SELECT query_id, neighbor_id FROM exact),
       |c AS (SELECT (SELECT count(*) FROM exact) AS n_exact,
       |             (SELECT count(*) FROM approx) AS n_approx,
       |             (SELECT count(*) FROM hit) AS n_hit)
       |SELECT CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(n_approx AS BIGINT) AS n_approx, CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_exact = 0 THEN 0.0
       |       ELSE round(CAST(n_hit AS DOUBLE) / n_exact, 6) END AS recall
       |FROM c""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("emb_stats", embStats, embStatsSql),
    QuerySpec("ann_cosine_topk", annTopK, annCosineSql),
    QuerySpec("q_hard_negatives", hardNegativesQ, hardNegativesSql),
    QuerySpec("ann_ivf_topk", annIvf, annIvfSql),
    QuerySpec("ann_quantized_topk", annQuantized, annQuantizedSql),
    QuerySpec("ann_rerank_topk", annRerank, annRerankSql),
    QuerySpec("d_emb_neardups", embNearDups, embNearDupsSql),
    QuerySpec("d_semdedup", semDedupQ, semDedupSql),
    QuerySpec("ann_pq_adc", annPqAdc, annPqAdcSql),
    QuerySpec("ann_ivfpq", annIvfPq, annIvfPqSql),
    QuerySpec("ann_ivfpq_recall", annIvfPqRecall, annIvfPqRecallSql),
    QuerySpec("ann_kmeans_ivf", annKmeansIvf, annKmeansIvfSql),
    QuerySpec("d_kcenter_coreset", kCenterQ, kCenterSql),
    QuerySpec("ann_cell_balance", cellBalanceQ, cellBalanceSql),
    QuerySpec("d_semantic_decontam", semanticDecontamQ, semanticDecontamSql),
    QuerySpec("j_cluster_agreement", clusterAgreementQ, clusterAgreementSql),
    QuerySpec("ann_mmr_rerank", mmrRerankQ, mmrRerankSql),
    QuerySpec("q_contrastive_pairs", contrastivePairsQ, contrastivePairsSql),
    QuerySpec("ann_recall_audit", annRecallQ, annRecallSql))
}
