package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Link-graph analytics: PageRank, HITS, k-core, label propagation,
  * components and triangle counts. */
object GraphQueries {

  /** w_components: component-size histogram of the functional link
    * graph, recomputed by recursive transitive closure. */
  private def componentsSql: String =
    """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst
      |       FROM documents, nn),
      |ed AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
      |       FROM e0 WHERE src <> dst),
      |edges AS (SELECT src, dst FROM ed UNION SELECT dst, src FROM ed),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
      |           FROM reach GROUP BY src),
      |cs AS (SELECT cluster, count(*) AS size FROM labels GROUP BY 1)
      |SELECT size, count(*) AS n_components FROM cs
      |GROUP BY 1 ORDER BY size""".stripMargin

  /** LLM-pipeline: URL canonicalization + dedup — four surface forms of
    * the same logical URL (case, www, default port, userinfo, tracking
    * params, param order, trailing slash, fragment) collapse to one
    * canonical key; documents sharing an item collapse across rows. */
  private def urlDedupQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Web
    val item = (col("doc_id") % 97).cast("string")
    val docs = t(s, dir, "documents").withColumn("url",
      when(col("doc_id") % 4 === 0,
        concat(lit("https://shop.example.com/item/"), item, lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://WWW.Shop.Example.COM:443/item/"), item, lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://shop.example.com/item/"), item,
          lit("/?a=1&utm_source=news&b=2#top")))
      .otherwise(
        concat(lit("https://user@shop.example.com:443/item/"), item,
          lit("?fbclid=xyz&a=1&b=2"))))
    Web.urlDedup(docs, "url", "doc_id").orderBy("url_canon")
  }

  /** w_url_dedup: replay the canonicalizer — same regex surgery (scheme/
    * host/path/query extraction, www+port+userinfo strip, tracking-param
    * filter, param sort) over the same synthesized variant URLs. */
  private def urlDedupSql: String =
    """WITH urls AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN 'https://shop.example.com/item/' || CAST(doc_id % 97 AS VARCHAR) || '?a=1&b=2'
      |       WHEN doc_id % 4 = 1 THEN 'HTTPS://WWW.Shop.Example.COM:443/item/' || CAST(doc_id % 97 AS VARCHAR) || '?b=2&a=1'
      |       WHEN doc_id % 4 = 2 THEN 'https://shop.example.com/item/' || CAST(doc_id % 97 AS VARCHAR) || '/?a=1&utm_source=news&b=2#top'
      |       ELSE 'https://user@shop.example.com:443/item/' || CAST(doc_id % 97 AS VARCHAR) || '?fbclid=xyz&a=1&b=2' END AS url
      |  FROM documents),
      |c AS (SELECT doc_id,
      |  lower(nullif(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')) AS scheme,
      |  regexp_replace(lower(nullif(regexp_extract(url,
      |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^/?#:]+)', 1), '')), '^www\.', '') AS host,
      |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1) AS path0,
      |  regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS rawq
      |  FROM urls),
      |p AS (SELECT doc_id, scheme, host,
      |  CASE WHEN path0 = '' OR path0 = '/' THEN '' ELSE regexp_replace(path0, '/$', '') END AS path,
      |  array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |    x -> x <> '' AND NOT regexp_matches(x,
      |      '^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)='))), '&') AS q
      |  FROM c),
      |canon AS (SELECT doc_id,
      |  CASE WHEN scheme IS NULL OR host IS NULL THEN NULL
      |       ELSE scheme || '://' || host || path ||
      |            CASE WHEN q = '' THEN '' ELSE '?' || q END END AS url_canon
      |  FROM p)
      |SELECT url_canon, count(*) AS n_variants,
      |  CAST(min(doc_id) AS BIGINT) AS keep_id,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM canon WHERE url_canon IS NOT NULL
      |GROUP BY url_canon ORDER BY url_canon""".stripMargin

  /** Link-centrality weighting (integer PageRank): a deterministic
    * heterogeneous graph over document ids — a permutation-ish family
    * ((7i+3)%N) plus a hub family (i%31, ~N/31 in-degree each), so
    * ranks genuinely differentiate. 3 iterations in exact ppm space —
    * DuckDB replays the unrolled loop; top-20 pins exact rank values. */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.pagerankInt(e, nIter = 3)
      .orderBy(col("rank_ppm").desc, col("node")).limit(20)
  }

  /** w_page_rank: replay integer-ppm PageRank by unrolling the 3
    * iterations — every op is exact integral arithmetic (floor division
    * on positives via //), so ranks match bit-for-bit. */
  private def pageRankSql: String = {
    def iter(prev: String, out: String): String =
      s"""i_$out AS (
         |  SELECT e.dst AS node, CAST(sum(r.r // g.d) AS BIGINT) AS insum
         |  FROM edges e JOIN $prev r ON r.node = e.src
         |  JOIN deg g ON g.src = e.src GROUP BY e.dst),
         |$out AS (
         |  SELECT nd.node,
         |    CAST(150000 + (coalesce(i.insum, 0) * 850000) // 1000000 AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN i_$out i ON i.node = nd.node)"""
        .stripMargin
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id*7 + 3) % (SELECT c FROM nn) AS dst FROM documents
       |  UNION
       |  SELECT doc_id, doc_id % 31 FROM documents),
       |edges AS (SELECT src, dst FROM e0 WHERE src <> dst),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, r AS rank_ppm FROM r3
       |ORDER BY rank_ppm DESC, node LIMIT 20""".stripMargin
  }

  /** Community detection over the `w_page_rank` link graph
    * ([[graft.operators.Graph.labelPropagation]], 3 synchronous
    * rounds): the site-cluster pass that caps or weights whole
    * communities where `w_components` would over-merge through
    * bridges. Output = community-size histogram with exact label
    * checksums; the oracle replays the unrolled rounds. */
  /** Web-graph coreness histogram ([[graft.operators.Graph.kCore]]):
    * 8 synchronous h-operator rounds on the same synthetic doc graph as
    * [[labelPropQ]], reported as (coreness, n_nodes, node_checksum). */
  private def kCoreQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.kCore(e, nIter = 8)
      .groupBy("coreness").agg(count(lit(1)).as("n_nodes"),
        sum(col("node")).as("node_checksum"))
      .orderBy("coreness")
  }

  /** w_kcore: replay 8 unrolled synchronous h-operator rounds (init =
    * degree; each round c(v) = max over desc-sorted neighbor values of
    * min(rownum, value)) on the symmetrized w_label_prop graph, then
    * the coreness histogram. Rounds MATERIALIZED. */
  private def kCoreSql: String = {
    def rnd(prev: String, out: String): String =
      s"""$out AS MATERIALIZED (
         |  SELECT dst AS node, CAST(max(least(rn, v)) AS BIGINT) AS c FROM (
         |    SELECT s.dst, l.c AS v,
         |      row_number() OVER (PARTITION BY s.dst ORDER BY l.c DESC) AS rn
         |    FROM sym s JOIN $prev l ON l.node = s.src)
         |  GROUP BY 1)""".stripMargin
    val rounds = (1 to 8).map(i => rnd(if (i == 1) "c0" else s"c${i - 1}", s"c$i"))
      .mkString(",\n")
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id*7 + 3) % (SELECT c FROM nn) AS dst FROM documents
       |  UNION ALL
       |  SELECT doc_id, doc_id % 31 FROM documents),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e0 WHERE src <> dst
       |    UNION ALL
       |    SELECT dst, src FROM e0 WHERE src <> dst)),
       |c0 AS MATERIALIZED (
       |  SELECT src AS node, CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY 1),
       |$rounds
       |SELECT c AS coreness, count(*) AS n_nodes,
       |  CAST(sum(node) AS BIGINT) AS node_checksum
       |FROM c8 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def labelPropQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.labelPropagation(e, nIter = 3)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_communities"),
        sum(col("label")).as("label_checksum"))
      .orderBy("size")
  }

  /** w_label_prop: replay 3 unrolled synchronous LPA rounds on the
    * symmetrized w_page_rank graph — per-node neighbor-label mode with
    * ties to the smallest label, then the community-size histogram.
    * Rounds MATERIALIZED (DuckDB inlines chained CTEs combinatorially). */
  private def labelPropSql: String = {
    def round(prev: String, out: String): String =
      s"""f_$out AS MATERIALIZED (
         |  SELECT s.dst AS node, l.label, count(*) AS c
         |  FROM sym s JOIN $prev l ON l.node = s.src GROUP BY 1, 2),
         |t_$out AS (
         |  SELECT node, label FROM f_$out
         |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1),
         |$out AS MATERIALIZED (
         |  SELECT l.node, coalesce(t.label, l.label) AS label
         |  FROM $prev l LEFT JOIN t_$out t USING (node))""".stripMargin
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id*7 + 3) % (SELECT c FROM nn) AS dst FROM documents
       |  UNION ALL
       |  SELECT doc_id, doc_id % 31 FROM documents),
       |sym AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM e0 WHERE src <> dst
       |    UNION ALL
       |    SELECT dst, src FROM e0 WHERE src <> dst)),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT size, count(*) AS n_communities,
       |  CAST(sum(label) AS BIGINT) AS label_checksum
       |FROM (SELECT label, count(*) AS size FROM l3 GROUP BY 1)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Incremental connected components
    * ([[graft.operators.Dedup.mergeClusterLabels]]): the `w_components`
    * edge relation split into two batches — even-src edges resolve to a
    * stored label catalog, odd-src edges fold in through the star-edge
    * merge — and incremental == from-scratch IS the oracle (the
    * `w_components` closure SQL verbatim). */
  private def incrementalClustersQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").cast("long").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = e.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b")).distinct()
    val batch1 = pairs.filter(col("id_a") % 2 === 0)
    val batch2 = pairs.filter(col("id_a") % 2 === 1)
    val catalog = graft.operators.Dedup.resolveClusters(batch1)
    graft.operators.Dedup.mergeClusterLabels(catalog, batch2)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .orderBy("size")
  }

  /** Web-graph shape: in-degree distribution of the same synthetic link
    * graph `w_page_rank` ranks — the power-law fingerprint a curation
    * pipeline checks before trusting link-centrality weights.
    */
  private def graphStatsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.inDegreeDistribution(e)
      .orderBy("in_deg")
  }

  /** w_graph_stats: in-degree distribution of the synthetic link graph
    * (cleaned like pagerank: self-edges and duplicate edges dropped,
    * isolated-direction nodes report 0). */
  private def graphStatsSql: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst FROM documents, nn
      |       UNION ALL SELECT doc_id, doc_id % 31 FROM documents),
      |e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
      |      FROM e0 WHERE src <> dst),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |ind AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1),
      |d AS (SELECT n.node, coalesce(ind.in_deg, 0) AS in_deg
      |      FROM nodes n LEFT JOIN ind USING (node))
      |SELECT in_deg, count(*) AS n_nodes FROM d GROUP BY 1 ORDER BY in_deg""".stripMargin

  /** Triangle census + clustering coefficient of the synthetic link
    * graph ([[graft.operators.Graph.triangleStats]]) — same edge
    * construction as `w_page_rank` / `w_graph_stats`.
    */
  private def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.triangleStats(e)
  }

  /** w_triangles: exact triangle census of the synthetic link graph —
    * canonical u<v edges, wedges around the middle vertex, EXISTS-closed
    * (a,c); wedge total from Σd(d−1)/2 in integer space. */
  private def trianglesSql: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst FROM documents, nn
      |       UNION ALL SELECT doc_id, doc_id % 31 FROM documents),
      |und AS (SELECT DISTINCT least(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS u,
      |        greatest(CAST(src AS BIGINT), CAST(dst AS BIGINT)) AS v
      |        FROM e0 WHERE src <> dst),
      |w AS (SELECT a.u AS a, a.v AS b, b2.v AS c FROM und a JOIN und b2 ON b2.u = a.v),
      |tri AS (SELECT count(*) AS n_triangles FROM w
      |        WHERE EXISTS (SELECT 1 FROM und x WHERE x.u = w.a AND x.v = w.c)),
      |deg AS (SELECT node, count(*) AS d FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
      |ds AS (SELECT count(*) AS n_nodes,
      |    CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM deg),
      |ec AS (SELECT count(*) AS n_edges FROM und)
      |SELECT ds.n_nodes, ec.n_edges, tri.n_triangles, ds.n_wedges,
      |  CASE WHEN ds.n_wedges = 0 THEN 0.0
      |       ELSE round(CAST(3 AS DOUBLE) * tri.n_triangles / ds.n_wedges, 6) END AS clustering
      |FROM ds, ec, tri""".stripMargin

  /** Connected-component SIZE distribution of the sparse functional
    * link graph (x → 7x+3 mod n is a permutation: pure cycles, several
    * components) — [[graft.operators.Dedup.resolveClusters]]'
    * pointer-jumping labels, histogrammed. The oracle recomputes
    * components by recursive transitive closure.
    */
  private def componentsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").cast("long").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = e.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b")).distinct()
    graft.operators.Dedup.resolveClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .orderBy("size")
  }

  /** HITS hubs/authorities over the synthetic link graph
    * ([[graft.operators.Graph.hitsInt]]) — integer-ppm, 2 iterations,
    * top 20 authorities.
    */
  private def hitsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.hitsInt(e, nIter = 2)
      .orderBy(col("auth_ppm").desc, col("node")).limit(20)
  }

  /** w_hits: two unrolled integer-ppm HITS iterations — sum along
    * edges, exact `//` rescale to max 10⁶ per half-step. */
  private def hitsSql: String = {
    def half(scoreRel: String, scoreCol: String, joinOn: String,
             groupAs: String, rawOut: String, out: String, outCol: String): String =
      s"""${rawOut}_r AS (SELECT e.$groupAs AS node, CAST(sum(s.$scoreCol) AS BIGINT) AS raw
         |  FROM edges e JOIN $scoreRel s ON s.node = e.$joinOn GROUP BY 1),
         |${rawOut}_a AS (SELECT nd.node, coalesce(r.raw, 0) AS raw
         |  FROM nodes nd LEFT JOIN ${rawOut}_r r ON r.node = nd.node),
         |${rawOut}_m AS (SELECT max(raw) AS m FROM ${rawOut}_a),
         |$out AS (SELECT a.node,
         |    CAST(CASE WHEN m.m = 0 THEN 0 ELSE (a.raw * 1000000) // m.m END AS BIGINT) AS $outCol
         |  FROM ${rawOut}_a a, ${rawOut}_m m)""".stripMargin
    s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM documents),
       |e0 AS (
       |  SELECT doc_id AS src, (doc_id * 7 + 3) % (SELECT c FROM nn) AS dst FROM documents
       |  UNION
       |  SELECT doc_id, doc_id % 31 FROM documents),
       |edges AS (SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
       |          FROM e0 WHERE src <> dst),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |${half("h0", "h", "src", "dst", "a1", "auth1", "a")},
       |${half("auth1", "a", "dst", "src", "h1", "hub1", "h")},
       |${half("hub1", "h", "src", "dst", "a2", "auth2", "a")},
       |${half("auth2", "a", "dst", "src", "h2", "hub2", "h")}
       |SELECT a.node, a.a AS auth_ppm, h.h AS hub_ppm
       |FROM auth2 a JOIN hub2 h ON h.node = a.node
       |ORDER BY auth_ppm DESC, a.node LIMIT 20""".stripMargin
  }

  /** Edge reciprocity of the synthetic link graph
    * ([[graft.operators.Graph.reciprocity]]).
    */
  private def reciprocityQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.reciprocity(e)
  }

  /** w_reciprocity: fraction of directed edges with a reverse edge. */
  private def reciprocitySql: String =
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |e0 AS (SELECT doc_id AS src, (doc_id * 7 + 3) % nn.n AS dst FROM documents, nn
      |       UNION ALL SELECT doc_id, doc_id % 31 FROM documents),
      |ed AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
      |       FROM e0 WHERE src <> dst),
      |r AS (SELECT count(*) AS n_rec FROM ed a
      |      WHERE EXISTS (SELECT 1 FROM ed b WHERE b.src = a.dst AND b.dst = a.src)),
      |t AS (SELECT count(*) AS n_edges FROM ed)
      |SELECT t.n_edges, r.n_rec AS n_reciprocal,
      |  CASE WHEN t.n_edges = 0 THEN 0.0
      |       ELSE round(CAST(r.n_rec AS DOUBLE) / t.n_edges, 6) END AS reciprocity
      |FROM t, r""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("w_url_dedup", urlDedupQ, urlDedupSql),
    QuerySpec("w_page_rank", pageRankQ, pageRankSql),
    QuerySpec("w_kcore", kCoreQ, kCoreSql),
    QuerySpec("w_label_prop", labelPropQ, labelPropSql),
    // incremental == from-scratch IS the oracle: folding the second
    // edge batch into the first batch's label catalog must equal the
    // full closure over all edges
    QuerySpec("d_incremental_clusters", incrementalClustersQ, componentsSql),
    QuerySpec("w_graph_stats", graphStatsQ, graphStatsSql),
    QuerySpec("w_triangles", trianglesQ, trianglesSql),
    QuerySpec("w_components", componentsQ, componentsSql),
    QuerySpec("w_hits", hitsQ, hitsSql),
    QuerySpec("w_reciprocity", reciprocityQ, reciprocitySql))
}
