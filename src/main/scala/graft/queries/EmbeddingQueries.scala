package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Embedding-space analysis: PCA and post-processing, similarity of
  * representations, truncation and projection checks, k-NN structure. */
object EmbeddingQueries {

  /** emb_pca_power: replay the exact-integer power iteration — the same
    * micro-quantization seam as emb_dim_variance, truncating `//` for
    * the centering mean and every rescale (Spark `div` ≡ DuckDB `//`
    * toward zero), four unrolled rounds, canonical sign from the
    * lowest-dim nonzero component, and the explained-variance share as
    * one exact HUGEINT integral divide to ppm. CTEs are MATERIALIZED:
    * the iteration chain references each round's relations repeatedly
    * and default inlining re-evaluates the chain combinatorially. */
  private def pcaChainCtes(nIter: Int): String = {
    def iter(i: Int, vPrev: String): String =
      s"""d$i AS MATERIALIZED (SELECT y.id, CAST(sum(y.y * v.v) AS BIGINT) AS dot
         |  FROM y JOIN $vPrev v USING (dim) GROUP BY y.id),
         |s$i AS MATERIALIZED (SELECT greatest(CAST(1 AS BIGINT),
         |    CAST(max(abs(dot)) AS BIGINT) // 1000000) AS s FROM d$i),
         |dn$i AS MATERIALIZED (SELECT id, dot // s AS ds FROM d$i, s$i),
         |z$i AS MATERIALIZED (SELECT y.dim, CAST(sum(y.y * dn.ds) AS BIGINT) AS z
         |  FROM y JOIN dn$i dn USING (id) GROUP BY y.dim),
         |t$i AS MATERIALIZED (SELECT greatest(CAST(1 AS BIGINT),
         |    CAST(max(abs(z)) AS BIGINT) // 1000000) AS t FROM z$i),
         |v$i AS MATERIALIZED (SELECT dim, CAST(z // t AS BIGINT) AS v FROM z$i, t$i)""".stripMargin
    s"""comps AS MATERIALIZED (SELECT CAST(vec_id AS BIGINT) AS id, i - 1 AS dim,
       |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS u
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
       |mu AS MATERIALIZED (SELECT dim, CAST(sum(u) AS BIGINT) // count(*) AS mu
       |  FROM comps GROUP BY 1),
       |y AS MATERIALIZED (SELECT c.id, c.dim, c.u - m.mu AS y
       |  FROM comps c JOIN mu m USING (dim)),
       |v0 AS MATERIALIZED (SELECT DISTINCT dim, CAST(1000000 + dim AS BIGINT) AS v FROM y),
       |${(1 to nIter).map(i => iter(i, s"v${i - 1}")).mkString(",\n")},
       |sg AS MATERIALIZED (SELECT CASE WHEN
       |    coalesce((SELECT v FROM v$nIter WHERE v <> 0 ORDER BY dim LIMIT 1), 1) >= 0
       |    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS sgn),
       |vc AS MATERIALIZED (SELECT dim, v * sgn AS v FROM v$nIter, sg),
       |fd AS MATERIALIZED (SELECT y.id, CAST(sum(y.y * vc.v) AS BIGINT) AS dot
       |  FROM y JOIN vc USING (dim) GROUP BY y.id)""".stripMargin
  }

  /** Dominant principal direction + explained-variance share of the
    * embedding corpus — the All-but-the-top anisotropy report
    * ([[graft.operators.Ann.powerIterationPca]]); 4 exact-integer power
    * rounds, the DuckDB oracle replays every round. */
  private def pcaPowerQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.powerIterationPca(t(s, dir, "embeddings"), nIter = 4)
      .orderBy("dim")

  private def pcaPowerSql: String =
    s"""WITH ${pcaChainCtes(4)},
       |nm AS MATERIALIZED (SELECT sum(CAST(dot AS HUGEINT) * dot) AS num FROM fd),
       |dd AS MATERIALIZED (SELECT (SELECT sum(CAST(v AS HUGEINT) * v) FROM vc) *
       |    (SELECT sum(CAST(y AS HUGEINT) * y) FROM y) AS den),
       |ev AS MATERIALIZED (SELECT CASE WHEN den IS NULL OR den = 0 THEN 0.0
       |    ELSE CAST(CAST((num * 1000000) // den AS BIGINT) AS DOUBLE) / 1000000.0 END
       |    AS ev_share FROM nm, dd)
       |SELECT CAST(vc.dim AS BIGINT) AS dim, CAST(vc.v AS BIGINT) AS component_ppm,
       |  ev.ev_share
       |FROM vc, ev ORDER BY dim""".stripMargin

  /** All-but-the-top removal report
    * ([[graft.operators.Ann.abttReport]]) — before/after variance and
    * axis anisotropy of projecting the top component out. */
  private def abttQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.abttReport(t(s, dir, "embeddings"), nIter = 4)

  /** emb_abtt: the All-but-the-top projection replay — exact integral
    * projection quotient per cell, ppm ratios by HUGEINT integral
    * divides (Spark's DECIMAL `div` and DuckDB `//` both truncate
    * toward zero). */
  private def abttSql: String =
    s"""WITH ${pcaChainCtes(4)},
       |nv2 AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS nv2 FROM vc),
       |yp AS MATERIALIZED (SELECT y.id, y.dim,
       |    CASE WHEN n.nv2 = 0 THEN y.y
       |         ELSE y.y - CAST((CAST(f.dot AS HUGEINT) * v.v) // n.nv2 AS BIGINT) END AS yp
       |  FROM y JOIN fd f USING (id) JOIN vc v USING (dim), nv2 n),
       |syy AS MATERIALIZED (SELECT sum(CAST(y AS HUGEINT) * y) AS syy FROM y),
       |syp AS MATERIALIZED (SELECT sum(CAST(yp AS HUGEINT) * yp) AS syp FROM yp),
       |axb AS MATERIALIZED (SELECT max(sd) AS mx, sum(sd) AS tot, count(*) AS nd
       |  FROM (SELECT dim, sum(CAST(y AS HUGEINT) * y) AS sd FROM y GROUP BY dim)),
       |axa AS MATERIALIZED (SELECT max(sd) AS mx, sum(sd) AS tot, count(*) AS nd
       |  FROM (SELECT dim, sum(CAST(yp AS HUGEINT) * yp) AS sd FROM yp GROUP BY dim)),
       |cnts AS (SELECT (SELECT count(*) FROM embeddings) AS n_vecs,
       |                (SELECT count(*) FROM vc) AS n_dims)
       |SELECT cnts.n_vecs, cnts.n_dims,
       |  CASE WHEN syy.syy IS NULL OR syy.syy = 0 THEN 0.0
       |       ELSE CAST(CAST(((syy.syy - syp.syp) * 1000000) // syy.syy AS BIGINT) AS DOUBLE) / 1000000.0
       |  END AS ev_top_share,
       |  CASE WHEN syy.syy IS NULL OR syy.syy = 0 THEN 0.0
       |       ELSE CAST(CAST((syp.syp * 1000000) // syy.syy AS BIGINT) AS DOUBLE) / 1000000.0
       |  END AS var_retained,
       |  CASE WHEN axb.tot IS NULL OR axb.tot = 0 THEN 0.0
       |       ELSE CAST(CAST((axb.mx * axb.nd * 1000000) // axb.tot AS BIGINT) AS DOUBLE) / 1000000.0
       |  END AS axis_aniso_before,
       |  CASE WHEN axa.tot IS NULL OR axa.tot = 0 THEN 0.0
       |       ELSE CAST(CAST((axa.mx * axa.nd * 1000000) // axa.tot AS BIGINT) AS DOUBLE) / 1000000.0
       |  END AS axis_aniso_after
       |FROM cnts, syy, syp, axb, axa""".stripMargin

  /** Representation-drift scorecard ([[graft.operators.Ann.linearCka]]):
    * CKA of the embedding table against its int8-quantized view and its
    * 16-dim MRL truncation — "does the cheaper representation preserve
    * the geometry" in one scalar per variant. */
  private def embCkaQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val int8 = embs.withColumn("embedding", expr(
      "transform(embedding, x -> round(cast(x as double) * 127.0, 0) / 127.0)"))
    val trunc = embs.withColumn("embedding", expr("slice(embedding, 1, 16)"))
    graft.operators.Ann.linearCka(embs, int8).withColumn("variant", lit("int8"))
      .unionByName(graft.operators.Ann.linearCka(embs, trunc)
        .withColumn("variant", lit("trunc16")))
      .select("variant", "n_vecs", "dx", "dy", "cka")
      .orderBy("variant")
  }

  /** emb_cka: replay linear CKA per variant — micro-quantized views,
    * truncating-div column centering, HUGEINT Gram cross products and
    * squared-Frobenius sums (mirror of the Spark DECIMAL(38,0) path),
    * one sqrt-ratio per variant rounded 6 dp. */
  private def embCkaSql: String = {
    def ckaSelect(variant: String, yCte: String, dx: Int, dy: Int): String =
      s"""SELECT '$variant' AS variant, (SELECT count(*) FROM base) AS n_vecs,
         |  CAST($dx AS INTEGER) AS dx, CAST($dy AS INTEGER) AS dy,
         |  round(CAST(fxy.f2 AS DOUBLE) /
         |    (sqrt(CAST(fxx.f2 AS DOUBLE)) * sqrt(CAST(fyy.f2 AS DOUBLE))), 6) AS cka
         |FROM
         |  (SELECT sum(c * c) AS f2 FROM (
         |    SELECT sum(CAST(a.v AS HUGEINT) * b.v) AS c
         |    FROM cx_c a JOIN ${yCte}_c b USING (n_id) GROUP BY a.d, b.d)) fxy,
         |  (SELECT sum(c * c) AS f2 FROM (
         |    SELECT sum(CAST(a.v AS HUGEINT) * b.v) AS c
         |    FROM cx_c a JOIN cx_c b USING (n_id) GROUP BY a.d, b.d)) fxx,
         |  (SELECT sum(c * c) AS f2 FROM (
         |    SELECT sum(CAST(a.v AS HUGEINT) * b.v) AS c
         |    FROM ${yCte}_c a JOIN ${yCte}_c b USING (n_id) GROUP BY a.d, b.d)) fyy"""
        .stripMargin
    def cellCtes(src: String, out: String, dim: Int): String =
      s"""${out}_r AS (
         |  SELECT vec_id AS n_id, d, q[d] AS v FROM $src, unnest(range(1, ${dim + 1})) t(d)),
         |${out}_m AS (
         |  SELECT d, CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS mu
         |  FROM (SELECT d, sum(v) AS s, count(*) AS n FROM ${out}_r GROUP BY d)),
         |${out}_c AS (
         |  SELECT n_id, d, v - mu AS v FROM ${out}_r JOIN ${out}_m USING (d))"""
        .stripMargin
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |xq AS (SELECT vec_id, [CAST(floor(x * 1e6) AS BIGINT) FOR x IN e] AS q FROM base),
       |y8 AS (SELECT vec_id,
       |  [CAST(floor(round(x * 127.0, 0) / 127.0 * 1e6) AS BIGINT) FOR x IN e] AS q FROM base),
       |yt AS (SELECT vec_id, [CAST(floor(x * 1e6) AS BIGINT) FOR x IN e[1:16]] AS q FROM base),
       |${cellCtes("xq", "cx", 64)},
       |${cellCtes("y8", "c8", 64)},
       |${cellCtes("yt", "ct", 16)}
       |${ckaSelect("int8", "c8", 64, 64)}
       |UNION ALL
       |${ckaSelect("trunc16", "ct", 64, 16)}
       |ORDER BY variant""".stripMargin
  }

  /** Matryoshka truncation screen
    * ([[graft.operators.Ann.matryoshkaReport]]): exact top-5 overlap of
    * the 16- and 32-dim prefixes against the full 64-dim ranking over
    * the standard vec_id ≤ 10 query set. */
  private def matryoshkaQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Ann.matryoshkaReport(
      embs, embs.filter(col("vec_id") <= 10), dims = Seq(16, 32, 64), k = 5)
      .orderBy("dim_prefix")
  }

  /** emb_matryoshka: replay the prefix-truncated exact top-5 rankings
    * (cast → slice → norm, the same 6-dp safeCosine and (cosine DESC,
    * id) tie-break as annCosineSql) at 16/32/64 dims, then the overlap
    * join of each prefix's pair set against the full-dim pair set. */
  private def matryoshkaSql: String = {
    val dims = Seq(16, 32, 64)
    def prefCte(d: Int) =
      s"""p$d AS MATERIALIZED (
         |  SELECT vec_id, e2 AS e, sqrt(list_dot_product(e2, e2)) AS nrm FROM (
         |    SELECT vec_id, CAST(embedding AS DOUBLE[])[1:$d] AS e2 FROM embeddings))""".stripMargin
    def topCte(d: Int) =
      s"""t$d AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
         |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
         |          c.vec_id) AS rank
         |    FROM (SELECT * FROM p$d WHERE vec_id <= 10) q
         |    JOIN p$d c ON c.vec_id <> q.vec_id)
         |  WHERE rank <= 5)""".stripMargin
    val nq = "nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id <= 10)"
    val ctes = (dims.map(prefCte) ++ dims.map(topCte) :+ nq).mkString(",\n")
    val arms = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim_prefix,
         |  CAST(count(*) AS BIGINT) AS matches,
         |  CAST(count(*) * 1000000 // (nq.n * 5) AS BIGINT) / 1000000.0 AS overlap_r
         |FROM t$d a JOIN t64 b USING (query_id, neighbor_id), nq
         |GROUP BY nq.n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes
       |SELECT * FROM (
       |$arms)
       |ORDER BY dim_prefix""".stripMargin
  }

  /** JL signed-projection screen
    * ([[graft.operators.Ann.jlOverlapReport]]): 64→16-dim ±1
    * projection, top-5 neighborhood overlap vs full-dim — the
    * mixes-all-dims sibling of the emb_matryoshka truncation screen. */
  private def jlOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Ann.jlOverlapReport(
      embs, embs.filter(col("vec_id") <= 10), dOut = 16, dIn = 64, k = 5)
  }

  /** emb_jl_overlap: replay the ±1 JL projection (sign = parity of
    * md5_number_lower('jl:j:k'), j input dim 0..63, k output dim
    * 0..15), sequential list_dot_product projection and cosine top-5
    * in both spaces, overlap row. */
  private def jlOverlapSql: String =
    s"""WITH sgn AS MATERIALIZED (
       |  SELECT k, list_transform(range(0, 64), j ->
       |    CASE WHEN (md5_number_lower('jl:' || j || ':' || k) & 1) = 0
       |         THEN 1.0 ELSE -1.0 END) AS s
       |  FROM (SELECT unnest(range(0, 16)) AS k)),
       |base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |pfull AS MATERIALIZED (
       |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM base),
       |pj AS MATERIALIZED (
       |  SELECT vec_id, list(y ORDER BY k) AS e FROM (
       |    SELECT base.vec_id, sgn.k, list_dot_product(base.e, sgn.s) AS y
       |    FROM base, sgn)
       |  GROUP BY vec_id),
       |pjl AS MATERIALIZED (
       |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM pj),
       |tfull AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
       |          c.vec_id) AS rank
       |    FROM (SELECT * FROM pfull WHERE vec_id <= 10) q
       |    JOIN pfull c ON c.vec_id <> q.vec_id)
       |  WHERE rank <= 5),
       |tjl AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
       |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
       |          c.vec_id) AS rank
       |    FROM (SELECT * FROM pjl WHERE vec_id <= 10) q
       |    JOIN pjl c ON c.vec_id <> q.vec_id)
       |  WHERE rank <= 5),
       |nq AS (SELECT count(*) AS n FROM embeddings WHERE vec_id <= 10)
       |SELECT CAST(16 AS BIGINT) AS dim_out,
       |  CAST(count(*) AS BIGINT) AS matches,
       |  CAST(count(*) * 1000000 // (nq.n * 5) AS BIGINT) / 1000000.0 AS overlap_r
       |FROM tjl a JOIN tfull b USING (query_id, neighbor_id), nq
       |GROUP BY nq.n""".stripMargin

  /** Mutual-kNN graph health report
    * ([[graft.operators.Ann.knnGraphReport]], k=5). */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.knnGraphReport(t(s, dir, "embeddings"), k = 5)

  /** emb_knn_graph: replay the exact kNN edges (the ann_cosine_topk
    * scoring, all queries), then the mutual/hubness/orphan rollup. */
  private def knnGraphSql: String =
    """WITH n AS MATERIALIZED (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |knn AS MATERIALIZED (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
      |          c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |m AS (SELECT count(*) AS mutual_pairs FROM knn a JOIN knn b
      |  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
      |     AND a.query_id < a.neighbor_id),
      |ind AS (SELECT neighbor_id, count(*) AS d FROM knn GROUP BY 1),
      |hub AS (SELECT CAST(coalesce(max(d), 0) AS BIGINT) AS max_in_degree,
      |               count(*) AS reached FROM ind),
      |ne AS (SELECT count(*) AS n_edges FROM knn),
      |nn AS (SELECT count(*) AS n_nodes FROM embeddings)
      |SELECT nn.n_nodes, ne.n_edges, m.mutual_pairs,
      |  CASE WHEN ne.n_edges = 0 THEN 0.0
      |       ELSE CAST((2 * m.mutual_pairs * 1000000) // ne.n_edges AS BIGINT) / 1000000.0
      |  END AS mutual_fraction,
      |  hub.max_in_degree,
      |  nn.n_nodes - hub.reached AS n_orphans
      |FROM nn, ne, m, hub""".stripMargin

  /** kNN label-agreement (noisy-label screen,
    * [[graft.operators.Ann.labelAgreement]], k=5). */
  private def labelAgreementQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.labelAgreement(t(s, dir, "embeddings"), k = 5)
      .orderBy("label")

  /** emb_label_agreement: replay the exact kNN edges (all queries,
    * k=5), attach both endpoints' labels, per-vector agreement counts,
    * per-label rollup with the exact ppm rate. */
  private def labelAgreementSql: String =
    """WITH n AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |knn AS MATERIALIZED (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |          ELSE round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) END DESC,
      |          c.vec_id) AS rank
      |    FROM n q JOIN n c ON c.vec_id <> q.vec_id)
      |  WHERE rank <= 5),
      |pv AS (
      |  SELECT k.query_id, ql.label AS ql, count(*) AS n_nb,
      |    CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM knn k
      |  JOIN n ql ON ql.vec_id = k.query_id
      |  JOIN n nl ON nl.vec_id = k.neighbor_id
      |  GROUP BY 1, 2)
      |SELECT ql AS label, count(*) AS n_vecs,
      |  CAST(sum(n_agree) AS BIGINT) AS agree_edges,
      |  CAST(sum(n_nb) AS BIGINT) AS total_edges,
      |  CAST(sum(CASE WHEN n_agree = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspects,
      |  CAST((sum(n_agree) * 1000000) // sum(n_nb) AS BIGINT) / 1000000.0 AS agreement
      |FROM pv GROUP BY ql ORDER BY label""".stripMargin

  /** Per-label embedding centroid cosines in exact integer micro space
    * ([[graft.operators.Ann.labelCentroidCosines]]) — the
    * cluster-separation report.
    */
  private def embCentroidsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.labelCentroidCosines(t(s, dir, "embeddings"))
      .orderBy("label_a", "label_b")

  /** emb_centroids: per-(label, dim) integer micro sums, dim-ordered
    * arrays, pairwise centroid cosines (counts cancel). */
  private def embCentroidsSql: String =
    """WITH comps AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS u
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
      |cent AS (SELECT label, dim, CAST(sum(u) AS BIGINT) AS s
      |  FROM comps GROUP BY 1, 2),
      |arrs AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY dim) AS sv
      |  FROM cent GROUP BY 1),
      |cnts AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS n
      |  FROM embeddings GROUP BY 1),
      |j AS (SELECT a.label AS label_a, b.label AS label_b,
      |    ca.n AS n_a, cb.n AS n_b,
      |    sqrt(list_dot_product(a.sv, a.sv)) AS na,
      |    sqrt(list_dot_product(b.sv, b.sv)) AS nb,
      |    list_dot_product(a.sv, b.sv) AS dp
      |  FROM arrs a JOIN arrs b ON a.label < b.label
      |  JOIN cnts ca ON ca.label = a.label JOIN cnts cb ON cb.label = b.label)
      |SELECT label_a, label_b, n_a, n_b,
      |  CASE WHEN na * nb = 0 THEN 0.0 ELSE round(dp / (na * nb), 6) END AS cosine
      |FROM j ORDER BY label_a, label_b""".stripMargin

  /** Per-dimension embedding variance + anisotropy
    * ([[graft.operators.Ann.dimVariance]]).
    */
  private def dimVarianceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.dimVariance(t(s, dir, "embeddings"))
      .orderBy("dim")

  /** emb_dim_variance: per-dim scaled variance n·Σu² − (Σu)² from
    * integer micro components; anisotropy = max·n_dims / Σ. */
  private def dimVarianceSql: String =
    """WITH comps AS (SELECT i - 1 AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT) AS u
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
      |pd AS (SELECT dim, count(*) AS n, CAST(sum(u) AS BIGINT) AS su,
      |    CAST(sum(u * u) AS BIGINT) AS suu FROM comps GROUP BY 1),
      |v AS (SELECT dim, n, CAST(n * suu - su * su AS BIGINT) AS vu2 FROM pd),
      |tot AS (SELECT CAST(sum(vu2) AS BIGINT) AS sv, CAST(max(vu2) AS BIGINT) AS mv,
      |    count(*) AS n_dims FROM v)
      |SELECT CAST(v.dim AS BIGINT) AS dim,
      |  round(CAST(v.vu2 AS DOUBLE) / CAST(v.n * v.n AS DOUBLE) / 1e12, 6) AS variance,
      |  CASE WHEN tot.sv = 0 THEN 0.0
      |       ELSE round(CAST(v.vu2 AS DOUBLE) / tot.sv, 6) END AS var_share,
      |  tot.n_dims,
      |  CASE WHEN tot.sv = 0 THEN 0.0
      |       ELSE round(CAST(tot.mv AS DOUBLE) * tot.n_dims / tot.sv, 6) END AS anisotropy
      |FROM v, tot ORDER BY dim""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("emb_pca_power", pcaPowerQ, pcaPowerSql),
    QuerySpec("emb_abtt", abttQ, abttSql),
    QuerySpec("emb_cka", embCkaQ, embCkaSql),
    QuerySpec("emb_matryoshka", matryoshkaQ, matryoshkaSql),
    QuerySpec("emb_jl_overlap", jlOverlapQ, jlOverlapSql),
    QuerySpec("emb_knn_graph", knnGraphQ, knnGraphSql),
    QuerySpec("emb_label_agreement", labelAgreementQ, labelAgreementSql),
    QuerySpec("emb_centroids", embCentroidsQ, embCentroidsSql),
    QuerySpec("emb_dim_variance", dimVarianceQ, dimVarianceSql))
}
