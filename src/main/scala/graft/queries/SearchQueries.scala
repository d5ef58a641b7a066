package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ann

import Shared._

/** Text retrieval and its evaluation: BM25, query likelihood,
  * pseudo-relevance feedback, hybrid fusion and ranking metrics. */
object SearchQueries {

  private def bm25TopSql(k: Int): String =
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
      |  FROM documents),
      |dd AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, w FROM d),
      |consts AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dd),
      |tf AS (
      |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
      |  WHERE term IN ('dup', 'vector', 'join', 'window')
      |  GROUP BY doc_id, dl, term),
      |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    round(round(ln((c.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1), 6)
      |          * (tf.tf * (1.2 + 1))
      |          / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / c.avgdl)), 6) AS cc
      |  FROM tf JOIN dfq USING (term), consts c)
      |SELECT doc_id,
      |  CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) AS score_r,
      |  row_number() OVER (ORDER BY CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id) AS rank
      |FROM contrib GROUP BY doc_id
      |QUALIFY rank <= $k ORDER BY rank""".stripMargin

  /** Shared PRF CTE block: the bm25TopSql first pass, top-10 feedback
    * docs, candidate-term counts (query terms excluded), corpus df for
    * candidates only, and micro idf·count expansion weights ranked
    * (wgt desc, term). */
  private def prfCtes: String =
    raw"""d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
      |  FROM documents),
      |dd AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, w FROM d),
      |consts AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dd),
      |tf1 AS (
      |  SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
      |  WHERE term IN ('dup', 'vector', 'join', 'window')
      |  GROUP BY doc_id, dl, term),
      |dfq1 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf1 GROUP BY term),
      |contrib1 AS (
      |  SELECT tf1.doc_id,
      |    round(round(ln((c.n_docs - dfq1.df + 0.5) / (dfq1.df + 0.5) + 1), 6)
      |          * (tf1.tf * (1.2 + 1))
      |          / (tf1.tf + 1.2 * (0.25 + 0.75 * tf1.dl / c.avgdl)), 6) AS cc
      |  FROM tf1 JOIN dfq1 USING (term), consts c),
      |fb AS MATERIALIZED (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (
      |      ORDER BY CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id) AS rank
      |    FROM contrib1 GROUP BY doc_id)
      |  WHERE rank <= 10),
      |cnt AS MATERIALIZED (
      |  SELECT term, CAST(count(*) AS BIGINT) AS fb_count
      |  FROM (SELECT unnest(w) AS term FROM dd JOIN fb USING (doc_id))
      |  WHERE term NOT IN ('dup', 'vector', 'join', 'window')
      |  GROUP BY 1),
      |dfc AS (
      |  SELECT t.term, CAST(count(*) AS BIGINT) AS df
      |  FROM (SELECT unnest(list_distinct(w)) AS term FROM dd) t
      |  JOIN (SELECT term FROM cnt) q ON q.term = t.term GROUP BY 1),
      |exp AS MATERIALIZED (
      |  SELECT term, fb_count, df, wgt_micro,
      |    row_number() OVER (ORDER BY wgt_micro DESC, term) AS rn
      |  FROM (
      |    SELECT cnt.term, cnt.fb_count, dfc.df,
      |      CAST(floor(round(ln((c.n_docs - dfc.df + 0.5) / (dfc.df + 0.5) + 1), 6)
      |        * 1e6 + 0.5) AS BIGINT) * cnt.fb_count AS wgt_micro
      |    FROM cnt JOIN dfc USING (term), consts c))""".stripMargin

  /** BM25 keyword search over documents — the text-search modality next
    * to sketch and embedding search. Mixed-selectivity query: 'dup' is
    * rare (high idf), the others common. */
  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.bm25TopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  /** t_bm25_search: replay Okapi BM25 (k1=1.2, b=0.75) — idf rounded to
    * 6 dp on both sides (the one transcendental), per-term contributions
    * rounded then summed as exact DECIMAL(18,6) so aggregation order
    * cannot perturb the score, ties on ascending doc_id. */
  private def bm25SearchSql: String = bm25TopSql(15)

  /** PRF expansion terms for the t_bm25_search query
    * ([[graft.search.TextSearch.prfExpansionTerms]]): top-5 terms of
    * the top-10 pseudo-relevant docs by idf·count micro weight. */
  private def prfTermsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.prfExpansionTerms(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"))
      .orderBy(col("wgt_micro").desc, col("term"))

  /** j_prf_terms: the top-5 expansion terms. */
  private def prfTermsSql: String =
    s"""WITH $prfCtes
       |SELECT term, fb_count, df, wgt_micro FROM exp WHERE rn <= 5
       |ORDER BY wgt_micro DESC, term""".stripMargin

  /** BM25 + PRF reranked search
    * ([[graft.search.TextSearch.bm25PrfTopK]]): original terms at full
    * weight, expansion terms at half, exact-integer micro mixing. */
  private def prfSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.bm25PrfTopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  /** j_prf_search: the PRF-mixed rerank — query terms ppm 1e6,
    * expansion terms ppm 5e5, contributions micro-quantized before the
    * weight multiply, BIGINT sum, top-15. */
  private def prfSearchSql: String =
    s"""WITH $prfCtes,
       |tw AS (
       |  SELECT term, CAST(1000000 AS BIGINT) AS wgt
       |  FROM (VALUES ('dup'), ('vector'), ('join'), ('window')) t(term)
       |  UNION ALL
       |  SELECT term, CAST(500000 AS BIGINT) FROM exp WHERE rn <= 5),
       |tf2 AS (
       |  SELECT doc_id, dl, term, wgt, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd) JOIN tw USING (term)
       |  GROUP BY 1, 2, 3, 4),
       |df2 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf2 GROUP BY 1),
       |ctr2 AS (
       |  SELECT tf2.doc_id,
       |    (CAST(floor(round(round(ln((c.n_docs - df2.df + 0.5) / (df2.df + 0.5) + 1), 6)
       |       * (tf2.tf * (1.2 + 1))
       |       / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl / c.avgdl)), 6) * 1e6 + 0.5) AS BIGINT)
       |     * tf2.wgt) // 1000000 AS cw
       |  FROM tf2 JOIN df2 USING (term), consts c)
       |SELECT doc_id, CAST(sum(cw) AS DOUBLE) / 1e6 AS score_r,
       |  row_number() OVER (ORDER BY CAST(sum(cw) AS DOUBLE) / 1e6 DESC, doc_id) AS rank
       |FROM ctr2 GROUP BY doc_id
       |QUALIFY rank <= 15 ORDER BY rank""".stripMargin

  /** Dirichlet query-likelihood retrieval
    * ([[graft.search.TextSearch.dirichletQlTopK]]): the LM retrieval
    * family beside BM25, same terms, μ=2000. */
  private def qlSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.dirichletQlTopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  /** t_ql_search: replay Dirichlet query likelihood (μ=2000) — exact
    * BIGINT collection/tf counts, ptc precomputed per term, one
    * round-6 ln per (doc, term) incl. zero-tf smoothing floors,
    * DECIMAL(18,6) sum, top-15. */
  private def qlSearchSql: String =
    raw"""WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
      |  FROM documents),
      |dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM d),
      |cn AS (SELECT CAST(sum(dl) AS BIGINT) AS cn FROM dd),
      |cf AS (
      |  SELECT term, CAST(CAST(count(*) AS BIGINT) AS DOUBLE)
      |    / CAST(cn.cn AS DOUBLE) AS ptc
      |  FROM (SELECT unnest(w) AS term FROM dd), cn
      |  WHERE term IN ('dup', 'vector', 'join', 'window')
      |  GROUP BY term, cn.cn),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM dd)
      |  WHERE term IN ('dup', 'vector', 'join', 'window')
      |  GROUP BY doc_id, term),
      |sc AS (
      |  SELECT dd.doc_id,
      |    round(ln((CAST(coalesce(tf.tf, 0) AS DOUBLE) + 2000.0 * cf.ptc)
      |          / (CAST(dd.dl AS DOUBLE) + 2000.0)), 6) AS cc
      |  FROM dd CROSS JOIN cf
      |  LEFT JOIN tf ON tf.doc_id = dd.doc_id AND tf.term = cf.term)
      |SELECT doc_id,
      |  CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) AS score_r,
      |  row_number() OVER (ORDER BY CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id) AS rank
      |FROM sc GROUP BY doc_id
      |QUALIFY rank <= 15 ORDER BY rank""".stripMargin

  /** Rank-biased overlap between the plain BM25 top-15 and the PRF
    * rerank ([[graft.search.Evaluation.rankBiasedOverlap]], p=0.9) —
    * "how much did feedback move the ranking". */
  private def rboQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val terms = Seq("dup", "vector", "join", "window")
    graft.search.Evaluation.rankBiasedOverlap(
      graft.search.TextSearch.bm25TopK(docs, terms, 15),
      graft.search.TextSearch.bm25PrfTopK(docs, terms, k = 15), k = 15)
  }

  /** j3_rbo: replay truncated RBO between the plain BM25 top-15
    * (prfCtes' first pass) and the PRF rerank top-15 — the per-depth
    * tail weights are the SAME [[graft.search.Evaluation
    * .rboTailMicro]] literals the Spark plan uses. */
  private def rboSql: String = {
    val tail = graft.search.Evaluation.rboTailMicro(15)
    s"""WITH $prfCtes,
       |tw AS (
       |  SELECT term, CAST(1000000 AS BIGINT) AS wgt
       |  FROM (VALUES ('dup'), ('vector'), ('join'), ('window')) t(term)
       |  UNION ALL
       |  SELECT term, CAST(500000 AS BIGINT) FROM exp WHERE rn <= 5),
       |tf2 AS (
       |  SELECT doc_id, dl, term, wgt, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd) JOIN tw USING (term)
       |  GROUP BY 1, 2, 3, 4),
       |df2 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf2 GROUP BY 1),
       |ctr2 AS (
       |  SELECT tf2.doc_id,
       |    (CAST(floor(round(round(ln((c.n_docs - df2.df + 0.5) / (df2.df + 0.5) + 1), 6)
       |       * (tf2.tf * (1.2 + 1))
       |       / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl / c.avgdl)), 6) * 1e6 + 0.5) AS BIGINT)
       |     * tf2.wgt) // 1000000 AS cw
       |  FROM tf2 JOIN df2 USING (term), consts c),
       |a15 AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (
       |      ORDER BY CAST(sum(CAST(cc AS DECIMAL(18,6))) AS DOUBLE) DESC, doc_id) AS rank
       |    FROM contrib1 GROUP BY doc_id)
       |  WHERE rank <= 15),
       |b15 AS (
       |  SELECT doc_id, rank FROM (
       |    SELECT doc_id, row_number() OVER (
       |      ORDER BY CAST(sum(cw) AS DOUBLE) / 1e6 DESC, doc_id) AS rank
       |    FROM ctr2 GROUP BY doc_id)
       |  WHERE rank <= 15),
       |mm AS (
       |  SELECT [${tail.mkString(", ")}][CAST(greatest(a.rank, b.rank) AS INT)] AS t
       |  FROM a15 a JOIN b15 b USING (doc_id))
       |SELECT CAST(count(*) AS BIGINT) AS n_common,
       |  CAST(coalesce(sum(t), 0) AS BIGINT) AS rbo_micro,
       |  CAST(CAST(coalesce(sum(t), 0) AS BIGINT) AS DOUBLE) / 1e6 AS rbo_r
       |FROM mm""".stripMargin
  }

  /** J3: precision/recall@5 of brute-force ANN against same-label ground
    * truth (labels make the truth relation relational, so the whole
    * evaluation join is independently recomputable). */
  private def searchEval(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.precisionAtK(results, truth, 5).orderBy("query")
  }

  /** j3_search_eval: precision/recall@5 of exact cosine top-5 against the
    * same-label ground truth (mirrors Evaluation.precisionAtK over
    * Ann.bruteForceTopK). */
  private def searchEvalSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |res AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |truth AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS nid
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <= 10 AND b.vec_id <> a.vec_id),
      |hits AS (
      |  SELECT r.query_id, count(*) AS n_hits
      |  FROM res r JOIN truth t ON r.query_id = t.query_id AND r.neighbor_id = t.nid
      |  GROUP BY r.query_id),
      |exp_c AS (SELECT query_id, count(*) AS n_expected FROM truth GROUP BY query_id)
      |SELECT CAST(e.query_id AS VARCHAR) AS query,
      |  round(coalesce(h.n_hits, 0) / 5.0, 6) AS precision_at_k,
      |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE) / e.n_expected, 6) AS recall_at_k
      |FROM exp_c e LEFT JOIN hits h USING (query_id)
      |ORDER BY query""".stripMargin

  /** J3 ranking-quality extension: nDCG@5 of the same brute-force search
    * vs label-mates ground truth as `j3_search_eval` — position-aware
    * where precision@k is not; integer micro-gain sums keep it
    * engine-replayable.
    */
  private def searchNdcgQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.ndcgAtK(results, truth, 5).orderBy("query")
  }

  /** j3_ndcg: nDCG@5 of the brute-force search vs label-mates truth —
    * integer micro-gains floor(1e6 / round(log2(pos+1), 6)) summed per
    * query; one final double division. */
  private def searchNdcgSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |res AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |truth AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS nid
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <= 10 AND b.vec_id <> a.vec_id),
      |dcg AS (
      |  SELECT r.query_id,
      |    sum(CAST(floor(1000000.0 / round(log2(CAST(r.rank AS DOUBLE) + 1.0), 6)) AS BIGINT)) AS dcg_micro
      |  FROM res r JOIN truth t ON r.query_id = t.query_id AND r.neighbor_id = t.nid
      |  GROUP BY 1),
      |ideal AS (
      |  SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY nid) AS pos
      |  FROM truth),
      |idcg AS (
      |  SELECT query_id,
      |    sum(CAST(floor(1000000.0 / round(log2(CAST(pos AS DOUBLE) + 1.0), 6)) AS BIGINT)) AS idcg_micro
      |  FROM ideal WHERE pos <= 5 GROUP BY 1)
      |SELECT CAST(i.query_id AS VARCHAR) AS query,
      |  round(CAST(coalesce(d.dcg_micro, 0) AS DOUBLE) / CAST(i.idcg_micro AS DOUBLE), 6) AS ndcg_at_k
      |FROM idcg i LEFT JOIN dcg d USING (query_id)
      |ORDER BY query""".stripMargin

  /** J3 ranking-quality extension: MRR@5 of the same brute-force search
    * vs label-mates ground truth as `j3_search_eval`/`j3_ndcg` —
    * first-relevant-position where nDCG is graded; reciprocal ranks in
    * exact integer micro-units. */
  private def searchMrrQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.mrrAtK(results, truth, 5).orderBy("query")
  }

  /** j3_mrr: the searchNdcg result/truth replay with the
    * first-relevant-rank tail — reciprocal in truncating micro-units. */
  private def searchMrrSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |res AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |truth AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS nid
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <= 10 AND b.vec_id <> a.vec_id),
      |fh AS (
      |  SELECT r.query_id, CAST(min(r.rank) AS BIGINT) AS first_rank
      |  FROM res r JOIN truth t ON r.query_id = t.query_id AND r.neighbor_id = t.nid
      |  GROUP BY 1)
      |SELECT CAST(q.query_id AS VARCHAR) AS query,
      |  coalesce(f.first_rank, 0) AS first_rank,
      |  CASE WHEN f.first_rank IS NULL THEN 0.0
      |       ELSE CAST(1000000 // f.first_rank AS BIGINT) / 1000000.0 END AS rr
      |FROM (SELECT DISTINCT query_id FROM truth) q
      |LEFT JOIN fh f USING (query_id)
      |ORDER BY query""".stripMargin

  /** J3 ranking-quality extension: MAP@5 — same fixture as
    * j3_search_eval/j3_ndcg/j3_mrr, truncating-integer average
    * precision. */
  private def searchMapQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.averagePrecisionAtK(results, truth, 5)
      .orderBy("query")
  }

  /** j3_map: the searchMrr result/truth replay with the
    * average-precision tail — per-hit truncating micro precision, then
    * one truncating divide by min(|relevant|, k). */
  private def searchMapSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |res AS (
      |  SELECT query_id, neighbor_id, rank FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC, c.vec_id) AS rank
      |    FROM n q JOIN n c ON q.vec_id <= 10 AND c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |truth AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS nid
      |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id <= 10 AND b.vec_id <> a.vec_id),
      |h AS (
      |  SELECT r.query_id, r.rank,
      |    row_number() OVER (PARTITION BY r.query_id ORDER BY r.rank) AS hit_idx
      |  FROM res r JOIN truth t ON r.query_id = t.query_id AND r.neighbor_id = t.nid),
      |pa AS (SELECT query_id, count(*) AS n_hits,
      |         CAST(sum((hit_idx * 1000000) // rank) AS BIGINT) AS sp
      |       FROM h GROUP BY 1),
      |dn AS (SELECT query_id, least(count(*), 5) AS denom FROM truth GROUP BY 1)
      |SELECT CAST(d.query_id AS VARCHAR) AS query,
      |  coalesce(p.n_hits, 0) AS n_hits,
      |  CASE WHEN p.sp IS NULL OR d.denom = 0 THEN 0.0
      |       ELSE CAST(p.sp // d.denom AS BIGINT) / 1000000.0 END AS ap_at_k
      |FROM dn d LEFT JOIN pa p USING (query_id)
      |ORDER BY query""".stripMargin

  /** Hybrid retrieval: BM25 keyword list + dense cosine list fused by
    * Reciprocal Rank Fusion (K=60) — the standard RAG first-stage
    * combiner. Both inputs are the engine's own top-20 retrievals; only
    * ranks cross the fusion boundary. */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val sparse = graft.search.TextSearch.bm25TopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 20)
    val embs = t(s, dir, "embeddings")
    val dense = graft.operators.Ann
      .bruteForceTopK(embs, embs.filter(col("vec_id") === 1), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.search.Fusion.rrf(Seq(sparse.select("doc_id", "rank"), dense),
      kConst = 60, topK = 10)
  }

  // j_hybrid_rrf: both retrieval lists replayed by their own oracle
  // pipelines (BM25 top-20, exact cosine top-20 for query vec 1), then
  // RRF-fused — reciprocal contributions rounded to 6 dp and summed as
  // exact DECIMAL(18,6), ties on ascending doc_id.
  private def hybridRrfSql: String =
    s"""WITH sparse AS (SELECT doc_id, rank FROM (${bm25TopSql(20)})),
       |nrm AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |dense AS (
       |  SELECT neighbor_id AS doc_id, rank FROM (
       |    SELECT c.vec_id AS neighbor_id,
       |      row_number() OVER (ORDER BY
       |        CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |             ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
       |        c.vec_id) AS rank
       |    FROM nrm q JOIN nrm c ON q.vec_id = 1 AND c.vec_id <> 1)
       |  WHERE rank <= 20),
       |u AS (
       |  SELECT doc_id, round(1.0 / (60 + rank), 6) AS c FROM sparse
       |  UNION ALL
       |  SELECT doc_id, round(1.0 / (60 + rank), 6) AS c FROM dense),
       |f AS (
       |  SELECT doc_id, CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS rrf_r,
       |    count(*) AS n_lists
       |  FROM u GROUP BY doc_id)
       |SELECT doc_id, rrf_r, n_lists,
       |  row_number() OVER (ORDER BY rrf_r DESC, doc_id) AS rank
       |FROM f QUALIFY rank <= 10 ORDER BY rank""".stripMargin

  /** Spearman rank agreement between two supplier rankings — revenue
    * vs order volume ([[graft.search.Evaluation.spearman]]).
    */
  private def rankCorrQ(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem").groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("volume"))
    graft.search.Evaluation.spearman(items, "l_suppkey", "revenue", "volume")
  }

  /** j3_rank_corr: Spearman ρ between supplier revenue and volume
    * rankings — id-tie-broken total orders, exact integer Σd². */
  private def rankCorrSql: String =
    """WITH g AS (SELECT l_suppkey,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue,
      |    count(*) AS volume
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT l_suppkey,
      |    CAST(row_number() OVER (ORDER BY revenue DESC, l_suppkey) AS BIGINT) AS ra,
      |    CAST(row_number() OVER (ORDER BY volume DESC, l_suppkey) AS BIGINT) AS rb
      |  FROM g)
      |SELECT count(*) AS n_items,
      |  CAST(sum((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
      |  CASE WHEN count(*) < 2 THEN 0.0
      |       ELSE round(CAST(1 AS DOUBLE)
      |         - CAST(6 AS DOUBLE) * CAST(sum((ra - rb) * (ra - rb)) AS DOUBLE)
      |           / CAST(count(*) * (count(*) * count(*) - 1) AS DOUBLE), 6) END AS rho
      |FROM r""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_bm25_search", bm25Search, bm25SearchSql),
    QuerySpec("j_prf_terms", prfTermsQ, prfTermsSql),
    QuerySpec("j_prf_search", prfSearchQ, prfSearchSql),
    QuerySpec("t_ql_search", qlSearchQ, qlSearchSql),
    QuerySpec("j3_rbo", rboQ, rboSql),
    QuerySpec("j3_search_eval", searchEval, searchEvalSql),
    QuerySpec("j3_ndcg", searchNdcgQ, searchNdcgSql),
    QuerySpec("j3_mrr", searchMrrQ, searchMrrSql),
    QuerySpec("j3_map", searchMapQ, searchMapSql),
    QuerySpec("j_hybrid_rrf", hybridRrfQ, hybridRrfSql),
    QuerySpec("j3_rank_corr", rankCorrQ, rankCorrSql))
}
