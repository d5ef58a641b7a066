package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph centrality for corpus curation — the web-curation
  * pipelines behind public crawls weight domains by link centrality
  * (harmonic/PageRank families) before sampling. The engine already has
  * the *connectivity* graph op ([[Dedup.resolveClusters]]); this adds the
  * *numeric* one.
  *
  * PageRank here runs in exact INTEGER parts-per-million space: ranks
  * start at 10⁶ ppm, each node ships `rank div out_degree` along its
  * edges (integral floor division), and the damping update is
  * `(1−d)·10⁶ + (d_ppm · Σin) div 10⁶` — every operation an exact
  * integer, so the fixed-iteration result is bit-identical on any
  * engine, partitioning, or re-run, and a SQL oracle replays it by
  * unrolling the loop. (Float PageRank sums in nondeterministic order —
  * unverifiable across engines.) The integer product bounds the scale:
  * `Σin · d_ppm` must stay under 2⁶³ ≈ 9.2e18, i.e. an in-neighborhood
  * carrying ≲10¹³ ppm of rank mass (~10M average-rank in-neighbors) —
  * beyond that, lift the product into DECIMAL(38,0).
  *
  * Scale shape: per iteration ONE shuffle (groupBy dst); the cleaned
  * edge/node/degree relations are localCheckpointed once and the loop
  * state every round (`resolveClusters` discipline), so iteration N
  * never replays rounds 1..N−1; dangling-node mass leaks (the standard
  * simplification — ranks remain comparable, which is all curation
  * needs).
  */
object Graph {

  val OnePpm = 1000000L

  /** `edges` as (src, dst) longs without self-edges. */
  private def cleanEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))

  /** The distinct directed edges of [[cleanEdges]] and their nodes, each
    * materialized once: loop-invariant relations of the iterative
    * scorers, so no round's lineage re-derives them. */
  private def edgesAndNodes(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = cleanEdges(edges).distinct().localCheckpoint(eager = true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(eager = true)
    (e, nodes)
  }

  /** [[cleanEdges]] in both directions, distinct, materialized once. */
  private def symmetricEdges(edges: DataFrame): DataFrame = {
    val d = cleanEdges(edges)
    d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(eager = true)
  }

  /** @param edges (src: long, dst: long) relation; self-edges and
    *              duplicates are dropped.
    * @return (node, rank_ppm) for every node appearing in `edges`. */
  def pagerankInt(edges: DataFrame, nIter: Int = 3,
                  dampingPpm: Long = 850000L): DataFrame = {
    require(nIter >= 1 && dampingPpm > 0 && dampingPpm < OnePpm,
      "need nIter >= 1 and damping in (0, 1e6) ppm")
    // materialize the loop-invariant relations ONCE (resolveClusters
    // discipline): without the checkpoint every iteration's lineage
    // re-derives the edge dedup, node union, and degree aggregate
    val (e, nodes) = edgesAndNodes(edges)
    val deg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
      .localCheckpoint(eager = true)
    val base = OnePpm - dampingPpm
    var ranks = nodes.withColumn("rank_ppm", lit(OnePpm))
    for (i <- 1 to nIter) {
      val inSum = e.join(ranks, col("src") === col("node"))
        .join(deg, "src")
        .select(col("dst"), expr("rank_ppm div out_deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_sum"))
      ranks = nodes.join(inSum, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"(coalesce(in_sum, 0L) * ${dampingPpm}L) div ${OnePpm}L"))
            .as("rank_ppm"))
      // truncate the rank lineage each round; the last round returns the
      // live plan so callers compose onto it without an extra pass
      if (i < nIter) ranks = ranks.localCheckpoint(eager = true)
    }
    ranks
  }

  /** Synchronous label propagation (Raghavan et al. 2007; public) —
    * the community-detection pass a web-curation pipeline runs to cap
    * or weight whole site clusters rather than single domains, next to
    * the exact-components `resolveClusters` (components merge ANY
    * connectivity; LPA communities need local label majorities, so
    * dense cores separate from bridges). Deterministic variant: the
    * graph is symmetrized, every round EVERY node simultaneously
    * adopts the most frequent neighbor label with ties to the SMALLEST
    * label, isolated-in-round nodes keep their label. Fixed `nIter`
    * rounds (no convergence test) keeps the oracle an unrolled replay.
    *
    * Scale shape: each round is one edge-sized join + one (node, label)
    * hash aggregate + one per-node top-1 — all keyed shuffles, no
    * pairing; lineage truncates per round (the [[pagerankInt]]
    * discipline).
    *
    * @param edges (src, dst); direction, self-edges, duplicates ignored.
    * @return (node, label) after `nIter` synchronous rounds. */
  def labelPropagation(edges: DataFrame, nIter: Int = 4): DataFrame = {
    require(nIter >= 1, "need nIter >= 1")
    val sym = symmetricEdges(edges)
    val nodes = sym.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = true)
    var labels = nodes.withColumn("label", col("node"))
    for (i <- 1 to nIter) {
      val freq = sym.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val top = freq.withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))
            .orderBy(col("c").desc, col("label").asc)))
        .filter(col("__rn") === 1)
        .select(col("dst"), col("label").as("new_label"))
      labels = labels.join(top, col("node") === col("dst"), "left")
        .select(col("node"), coalesce(col("new_label"), col("label")).as("label"))
      if (i < nIter) labels = labels.localCheckpoint(eager = true)
    }
    labels
  }

  /** Coreness (k-core number) of every node via synchronous h-index
    * iteration (Lü et al. 2016, "The H-index of a network node and its
    * relation to degree and coreness", Nature Communications — public):
    * init c₀(v) = deg(v); every round EVERY node simultaneously sets
    * c(v) ← H({c(u) : u ∼ v}), the largest h such that ≥ h neighbors
    * currently hold value ≥ h. The sequence is monotone non-increasing
    * and its fixed point is exactly the coreness; fixed `nIter` rounds
    * (no convergence test) keeps the oracle an unrolled replay. The
    * h-index is order-insensitive among equal values, so the per-round
    * window needs no tiebreak to be deterministic.
    *
    * The k-core itself is then `coreness ≥ k` — the densely-connected
    * backbone a web-curation pipeline keeps (or caps) ahead of
    * per-domain sampling, where components/LPA only see connectivity.
    *
    * Scale shape: per round ONE edge-sized keyed join + one per-node
    * window + one hash aggregate — no pairing; lineage truncates per
    * round (the [[pagerankInt]] discipline).
    *
    * @param edges (src, dst); direction, self-edges, duplicates ignored.
    * @return (node, coreness) after `nIter` h-operator rounds. */
  def kCore(edges: DataFrame, nIter: Int = 8): DataFrame = {
    require(nIter >= 1, "need nIter >= 1")
    val sym = symmetricEdges(edges)
    var cur = sym.groupBy("src").agg(count(lit(1)).as("c"))
      .select(col("src").as("node"), col("c"))
    for (i <- 1 to nIter) {
      val h = sym.join(cur, col("src") === col("node"))
        .select(col("dst"), col("c").as("v"))
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))
            .orderBy(col("v").desc)).cast("long"))
        .groupBy("dst").agg(max(least(col("__rn"), col("v"))).as("h"))
      // every sym node has >= 1 neighbor, so the inner join is total
      cur = cur.join(h, col("node") === col("dst"))
        .select(col("node"), col("h").as("c"))
      if (i < nIter) cur = cur.localCheckpoint(eager = true)
    }
    cur.select(col("node"), col("c").as("coreness"))
  }

  /** Undirected triangle census + global clustering coefficient — the
    * "is this link graph tissue or hairball" summary a curation pipeline
    * reads next to the degree distribution (spam farms show near-zero
    * clustering at high degree; organic link neighborhoods close
    * triangles).
    *
    * Compact-forward shape: edges canonicalize to u < v once, wedges
    * enumerate around the MIDDLE vertex (one shuffle on it), and each
    * triangle a < b < c is counted exactly once by closing (a, c). Wedge
    * volume is Σ deg² of the canonical graph — the standard bound; for
    * power-law webs cap or sample the few super-hubs before calling.
    * All counts exact integers; the coefficient is one round-6 division.
    * Output: one row (n_nodes, n_edges, n_triangles, n_wedges,
    * clustering) with clustering = 3·triangles / wedges.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val wedges = und.select(col("u").as("a"), col("v").as("b"))
      .join(und.select(col("u").as("b"), col("v").as("c")), "b")
      .select("a", "b", "c") // a < b < c by canonical ordering
    val tri = wedges.join(und.select(col("u").as("a"), col("v").as("c")),
      Seq("a", "c"), "left_semi")
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      // sum the (always even) d(d−1) in exact LONG space; halve once
      sum(col("d") * (col("d") - 1)).as("__s2"))
      .select(col("n_nodes"), floor(col("__s2") / 2).cast("long").as("n_wedges"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    degStats.crossJoin(counts)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        when(col("n_wedges") === 0, lit(0.0))
          .otherwise(round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6))
          .as("clustering"))
  }

  /** HITS hubs/authorities (Kleinberg '99) in exact integer ppm space —
    * the bipartite complement to [[pagerankInt]]: a good HUB links to
    * many good authorities, a good AUTHORITY is linked from many good
    * hubs (directories vs destinations — PageRank conflates the two).
    *
    * Same determinism contract as pagerank: scores live in integer ppm,
    * each half-step is an integer sum along edges followed by an exact
    * integer-division rescale to max = 10⁶ (`div`, not float `/` — a
    * float division's 1-ulp rounding could cross the floor boundary),
    * so a fixed iteration count is bit-identical on any engine and an
    * SQL oracle replays it by unrolling. One shuffle per half-step.
    * Output: (node, auth_ppm, hub_ppm) for every node.
    */
  def hitsInt(edges: DataFrame, nIter: Int = 2): DataFrame = {
    require(nIter > 0, "need at least one iteration")
    // loop-invariant relations materialized once; per-iteration scores
    // checkpointed so a half-step's lineage never replays earlier rounds
    // (each full HITS round is 2 shuffles + 2 broadcast rescales — deep
    // enough that lineage replay dominated the wall time before)
    val (e, nodes) = edgesAndNodes(edges)
    var hub = nodes.select(col("node"), lit(OnePpm).as("h"))
    var auth = nodes.select(col("node"), lit(0L).as("a"))
    for (i <- 1 to nIter) {
      val rawA = e.join(hub.select(col("node").as("src"), col("h")), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("ar"))
      val aAll = nodes.join(rawA, Seq("node"), "left")
        .select(col("node"), coalesce(col("ar"), lit(0L)).as("ar"))
      val maxA = aAll.agg(max(col("ar")).as("__ma"))
      auth = aAll.crossJoin(broadcast(maxA))
        .select(col("node"), when(col("__ma") === 0, lit(0L))
          .otherwise(expr("(ar * 1000000) div __ma")).as("a"))
        .localCheckpoint(eager = true)
      val rawH = e.join(auth.select(col("node").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("hr"))
      val hAll = nodes.join(rawH, Seq("node"), "left")
        .select(col("node"), coalesce(col("hr"), lit(0L)).as("hr"))
      val maxH = hAll.agg(max(col("hr")).as("__mh"))
      hub = hAll.crossJoin(broadcast(maxH))
        .select(col("node"), when(col("__mh") === 0, lit(0L))
          .otherwise(expr("(hr * 1000000) div __mh")).as("h"))
      if (i < nIter) hub = hub.localCheckpoint(eager = true)
    }
    auth.join(hub, "node")
      .select(col("node"), col("a").as("auth_ppm"), col("h").as("hub_ppm"))
  }

  /** Edge reciprocity: the fraction of directed edges whose reverse
    * also exists — organic link neighborhoods reciprocate, scraped or
    * generated ones rarely do. One self-semi-join on the deduped edge
    * relation; exact integer counts, one round-6 division.
    * Output: one row (n_edges, n_reciprocal, reciprocity).
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
      .select(col("n_edges"), col("n_reciprocal"),
        when(col("n_edges") === 0, lit(0.0))
          .otherwise(round(col("n_reciprocal").cast("double") /
            col("n_edges").cast("double"), 6)).as("reciprocity"))
  }

  /** Per-node degrees of the cleaned edge relation (self-edges and
    * duplicates dropped, as [[pagerankInt]]): (node, out_deg, in_deg).
    * Two key shuffles; nodes with no edges in a direction report 0.
    */
  def degreeReport(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outD = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val inD = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    nodes.join(outD, Seq("node"), "left").join(inD, Seq("node"), "left")
      .na.fill(0L, Seq("out_deg", "in_deg"))
  }

  /** In-degree distribution — the power-law fingerprint of a link
    * graph: (in_deg, n_nodes). */
  def inDegreeDistribution(edges: DataFrame): DataFrame =
    degreeReport(edges).groupBy("in_deg").agg(count(lit(1)).as("n_nodes"))
}
