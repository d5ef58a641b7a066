package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.SketchFunctions._

import Shared._

/** Column statistics and data-quality checks: entropy, dependency and
  * key discovery, distinct-count sketches, drift and association tests,
  * binning and calibration. */
object ColumnStatsQueries {

  /** Shared CTE prefix for the KMV replays: the per-lang shingle values
    * (per-doc-deduped, as the Spark side's array_distinct) and their
    * DISTINCT low-32 md5 hashes. */
  private def kmvShingleCte: String =
    raw"""WITH ${shingle3Ctes("lang")},
      |sv AS (SELECT lang, unnest(sh) AS s FROM g),
      |h AS (SELECT DISTINCT lang, (md5_number_lower(s) & 4294967295) AS hv FROM sv)""".stripMargin

  /** Poisson-bootstrap confidence interval for a profile statistic —
    * THE web-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google TR 2012): instead of resampling
    * rows (impossible distributed), every row gets an independent
    * Poisson(1) weight per replica, so all B replicas ride ONE pass and
    * one groupBy(replica). Determinism: the weight is inverse-CDF over
    * the row's md5-uniform (`md5_low32(pk:boot:b)` vs hard-coded
    * integer thresholds floor(cdf_k·2³²) — EXACT integer comparisons,
    * zero transcendentals at eval time, engine/partitioning/run
    * invariant). Replica means divide two exact longs then round 6; the
    * CI is POSITIONAL over the 32 sorted replica means (ranks 2/16/31 —
    * single elements, never an average of two, which could land on a
    * 7th-decimal half where Spark and DuckDB round differently). */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchFunctions.md5_low32
    val B = 32
    // Poisson(1) CDF at k=0..5, scaled to 2^32 (shared literals — the
    // approximation cap at 6 is part of the pinned definition)
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L)
    // the price is a 2-dp value stored as DOUBLE: the decimal(18,2)
    // cast rounds it identically on both engines BEFORE the ×100, where
    // a raw double×100→long would truncate here and round in DuckDB
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val u = md5_low32(concat_ws(":",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      lit("boot"), col("b").cast("string")))
    val w = thresholds.map(t => (u >= lit(t)).cast("long")).reduce(_ + _)
    val means = li
      // spread BEFORE the B× explode: the scan is 1-2 input splits at
      // bench scale, and without this the 19.2M hash rows run on 2 of
      // 32 cores (measured 25.7 s → ~2 s; a 600k-row shuffle is noise).
      // At cluster scale the scan has many splits and AQE may coalesce
      // this exchange away — the explicit spread guards the small end.
      .repartition(32)
      .select(col("l_orderkey"), col("l_linenumber"), col("cents"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .select(col("b"), col("cents"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
      .select(round(col("swc").cast("double") / (col("sw") * 100.0), 6).as("mean"))
      .agg(sort_array(collect_list(col("mean"))).as("ms"))
      .select(element_at(col("ms"), 2).as("boot_lo"),
        element_at(col("ms"), 16).as("boot_mid"),
        element_at(col("ms"), 31).as("boot_hi"))
    val point = li.agg(count(lit(1)).as("n_rows"),
      round(sum(col("cents")).cast("double") / (count(lit(1)) * 100.0), 6)
        .as("point_mean"))
    point.crossJoin(means)
      .select(col("n_rows"), lit(B.toLong).as("n_replicas"),
        col("point_mean"), col("boot_lo"), col("boot_mid"), col("boot_hi"))
  }

  /** a_bootstrap_ci: replay the deterministic Poisson bootstrap — the
    * same md5-uniforms, the same integer CDF thresholds, exact long
    * weight·cents sums, positional CI over the 32 sorted replica means. */
  private def bootstrapCiSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM lineitem),
      |r AS (
      |  SELECT cents,
      |    md5_number_lower(CAST(l_orderkey AS VARCHAR) || ':' ||
      |      CAST(l_linenumber AS VARCHAR) || ':boot:' || CAST(b AS VARCHAR))
      |      & 4294967295 AS u32,
      |    b
      |  FROM li CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
      |w AS (
      |  SELECT b, cents,
      |    (CASE WHEN u32 >= 1580030168 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u32 >= 3160060337 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u32 >= 3950075421 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u32 >= 4213413783 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u32 >= 4279248373 THEN 1 ELSE 0 END) +
      |    (CASE WHEN u32 >= 4292415291 THEN 1 ELSE 0 END) AS w
      |  FROM r),
      |m AS (
      |  SELECT b, round(CAST(sum(w * cents) AS DOUBLE) / (sum(w) * 100.0), 6) AS mean
      |  FROM w GROUP BY b),
      |ms AS (SELECT mean, row_number() OVER (ORDER BY mean) AS rk FROM m),
      |pt AS (SELECT count(*) AS n_rows,
      |  round(CAST(sum(cents) AS DOUBLE) / (count(*) * 100.0), 6) AS point_mean FROM li)
      |SELECT pt.n_rows, CAST(32 AS BIGINT) AS n_replicas, pt.point_mean,
      |  (SELECT mean FROM ms WHERE rk = 2) AS boot_lo,
      |  (SELECT mean FROM ms WHERE rk = 16) AS boot_mid,
      |  (SELECT mean FROM ms WHERE rk = 31) AS boot_hi
      |FROM pt""".stripMargin

  /** Profile: per-column Shannon entropy (key-likeness signal) over a
    * low-card flag, a mid-card dimension, and the near-key orderkey —
    * integer micro-nat sums, so the oracle replays bit-for-bit.
    */
  private def colEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.columnEntropy(t(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey"))
      .orderBy("col_name")

  /** One column's entropy row: integer micro-nat terms
    * floor(c · round(ln(n/c), 6) · 1e6), integer-summed. */
  private def entropyColSql(c: String): String =
    s"""SELECT '$c' AS col_name,
       |  CAST(any_value(n) AS BIGINT) AS n_rows,
       |  count(*) AS n_distinct,
       |  round(CAST(sum(tm) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) / 1000000.0, 6) AS entropy
       |FROM (
       |  SELECT cnt, CAST(sum(cnt) OVER () AS BIGINT) AS n,
       |    CAST(floor(CAST(cnt AS DOUBLE) * round(ln(CAST(sum(cnt) OVER () AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) * 1000000.0) AS BIGINT) AS tm
       |  FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY CAST($c AS VARCHAR)))""".stripMargin

  /** a_col_entropy: per-column Shannon entropy in nats, replayed with
    * the integer micro-nat sum (no FP summation order). */
  private def colEntropySql: String =
    Seq("l_orderkey", "l_returnflag", "l_linestatus", "l_shipdate")
      .map(entropyColSql).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Profile: approximate functional-dependency scan (TANE g3 error)
    * over orders — the key column proves exact FDs, custkey/status/
    * priority give the approximate spectrum.
    */
  private def fdScanQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.fdScan(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("lhs", "rhs")

  /** a_fd_scan: TANE g3 error per directed orders-column pair —
    * 1 − (Σ_a max_b c_ab)/n, exact integers until the one division. */
  private def fdScanSql: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val pairSqls = for { a <- cols; b <- cols if a != b } yield
      s"""SELECT '$a' AS lhs, '$b' AS rhs, count(*) AS n_lhs_groups,
         |  round(1.0 - CAST(sum(m) AS DOUBLE)
         |    / CAST((SELECT count(*) FROM orders) AS DOUBLE), 6) AS g3_error
         |FROM (SELECT a, max(c) AS m
         |      FROM (SELECT CAST($a AS VARCHAR) AS a, CAST($b AS VARCHAR) AS b, count(*) AS c
         |            FROM orders GROUP BY 1, 2)
         |      GROUP BY a)""".stripMargin
    s"""SELECT lhs, rhs, n_lhs_groups, g3_error, g3_error <= 0.01 AS holds
       |FROM (${pairSqls.mkString("\n", "\nUNION ALL\n", "\n")})
       |ORDER BY lhs, rhs""".stripMargin
  }

  /** Candidate (table, column) pairs of the inclusion-dependency scan. */
  private val IndCandidates = Seq(
    ("nation", "n_nationkey"), ("nation", "n_regionkey"),
    ("region", "r_regionkey"),
    ("customer", "c_custkey"), ("customer", "c_nationkey"),
    ("supplier", "s_suppkey"), ("supplier", "s_nationkey"),
    ("orders", "o_orderkey"), ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"), ("lineitem", "l_suppkey"))

  /** Profile: inclusion-dependency scan over the TPC-H key/FK columns —
    * the foreign-key discovery pass; every true FK⊆PK edge surfaces at
    * containment 1.0.
    */
  private def indScanQ(s: SparkSession, dir: String): DataFrame = {
    val cands = IndCandidates.map { case (tbl, c) => (tbl, t(s, dir, tbl), c) }
    graft.profile.InfoTheory.indScan(cands, minContainment = 0.95)
      .orderBy("src", "dst")
  }

  /** a_ind_scan: containment of every directed candidate-column pair
    * from the unified distinct (src, v) relation; ≥ 0.95 kept. */
  private def indScanSql: String = {
    val arms = IndCandidates.map { case (t, c) =>
      s"SELECT DISTINCT '$t.$c' AS src, CAST($c AS VARCHAR) AS v FROM $t"
    }.mkString("\nUNION ALL\n")
    s"""WITH vals AS ($arms),
       |sizes AS (SELECT src, count(*) AS n_src FROM vals GROUP BY 1),
       |common AS (
       |  SELECT a.src, b.src AS dst, count(*) AS n_common
       |  FROM vals a JOIN vals b ON a.v = b.v AND a.src <> b.src
       |  GROUP BY 1, 2)
       |SELECT c.src, c.dst, s.n_src, c.n_common,
       |  round(CAST(c.n_common AS DOUBLE) / CAST(s.n_src AS DOUBLE), 6) AS containment
       |FROM common c JOIN sizes s USING (src)
       |WHERE round(CAST(c.n_common AS DOUBLE) / CAST(s.n_src AS DOUBLE), 6) >= 0.95
       |ORDER BY src, dst""".stripMargin
  }

  /** Profile: candidate-key discovery over orders' non-key columns —
    * uniqueness ratio of every single and pair combo.
    */
  private def keyDiscoveryQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.keyDiscovery(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"))
      .orderBy("key_cols")

  /** a_key_discovery: distinct-count uniqueness per single/pair combo. */
  private def keyDiscoverySql: String = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")
    val combos = cols.map(Seq(_)) ++
      (for { i <- cols.indices; j <- i + 1 until cols.size }
        yield Seq(cols(i), cols(j)))
    val arms = combos.map { combo =>
      s"""SELECT '${combo.mkString("+")}' AS key_cols,
         |  (SELECT count(*) FROM (SELECT DISTINCT ${combo.mkString(", ")} FROM orders)) AS n_distinct,
         |  (SELECT count(*) FROM orders) AS n_rows""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT key_cols, n_distinct, n_rows,
       |  round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS uniqueness,
       |  n_distinct = n_rows AS is_key
       |FROM ($arms)
       |ORDER BY key_cols""".stripMargin
  }

  /** ML-pipeline: class-balance report over the embedding labels —
    * per-class counts and sklearn-style balanced weights n/(k·n_c).
    */
  private def classWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val counts = e.groupBy("label").agg(count(lit(1)).as("n_label"))
    val tot = counts.agg(sum(col("n_label")).as("n"),
      count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .select(col("label"), col("n_label"),
        round(col("n").cast("double") /
          (col("k") * col("n_label")).cast("double"), 6).as("weight"))
      .orderBy("label")
  }

  /** q_class_weights: per-class counts + balanced weights n/(k·n_c). */
  private def classWeightsSql: String =
    """WITH c AS (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1),
      |t AS (SELECT CAST(sum(n_label) AS BIGINT) AS n, count(*) AS k FROM c)
      |SELECT c.label, c.n_label,
      |  round(CAST(t.n AS DOUBLE) / CAST(t.k * c.n_label AS DOUBLE), 6) AS weight
      |FROM c CROSS JOIN t ORDER BY label""".stripMargin

  /** ML-pipeline: calibration (reliability) report — cosine similarity
    * rescaled to [0,1] as a "same-label" score, binned into deciles;
    * per bin the mean score (decimal-exact) vs the empirical match
    * rate. A calibrated scorer tracks the diagonal.
    */
  private def calibrationQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ann.{dot, norm}
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.select(col("vec_id").as("qid"), col("label").as("ql"),
      col("v").as("qv"), col("nrm").as("qn")).filter(col("qid") <= 30)
    val scored = q.join(e, col("qid") < col("vec_id"))
      .withColumn("cos", when(col("qn") * col("nrm") === 0, lit(0.0))
        .otherwise(round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)))
      .withColumn("score", (col("cos") + 1) / 2)
      .withColumn("bin", least(lit(9L), floor(col("score") * 10).cast("long")))
      .withColumn("hit", (col("ql") === col("label")).cast("long"))
    scored.groupBy("bin").agg(
      count(lit(1)).as("n_pairs"),
      (sum(col("score").cast("decimal(18,7)")).cast("double") /
        count(lit(1))).as("avg_score"),
      round(sum(col("hit")).cast("double") / count(lit(1)), 6).as("match_rate"))
      .withColumn("avg_score", round(col("avg_score"), 6))
      .orderBy("bin")
  }

  /** q_calibration: decile reliability bins over the [0,1]-rescaled
    * pair cosine vs same-label outcomes; per-bin mean score summed as
    * DECIMAL(18,7) (scores carry ≤7 decimals after the 6-dp cosine). */
  private def calibrationSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |s AS (
      |  SELECT q.label AS ql, c.label AS cl,
      |    CASE WHEN q.nrm * c.nrm = 0 THEN 0.0
      |         ELSE round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) END AS cos
      |  FROM e q JOIN e c ON q.vec_id <= 30 AND q.vec_id < c.vec_id),
      |b AS (SELECT least(9, CAST(floor(((cos + 1) / 2) * 10) AS BIGINT)) AS bin,
      |        (cos + 1) / 2 AS score,
      |        CASE WHEN ql = cl THEN 1 ELSE 0 END AS hit
      |      FROM s)
      |SELECT bin, count(*) AS n_pairs,
      |  round(CAST(sum(CAST(score AS DECIMAL(18,7))) AS DOUBLE) / count(*), 6) AS avg_score,
      |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS match_rate
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Profile: declarative data-quality checks over orders — one pass
    * for all row-local rules, plus uniqueness and FK integrity; the
    * in_range rule is tuned to catch real violations (prices above
    * 400k exist).
    */
  private def qualityChecksQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Checks
    import graft.profile.Checks._
    Checks.run(t(s, dir, "orders"), Seq(
      NotNull("o_orderkey"), Unique("o_orderkey"),
      InRange("o_totalprice", 0.0, 400000.0),
      InSet("o_orderstatus", Seq("F", "O", "P")),
      MatchesRegex("o_orderpriority", "^[1-5]-.*"),
      RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
      .orderBy("rule", "column")
  }

  /** p_quality_checks: one row per declarative rule, exact counts. */
  private def qualityChecksSql: String =
    """WITH n AS (SELECT count(*) AS n_rows FROM orders),
      |r AS (
      |  SELECT 'in_range' AS rule, 'o_totalprice' AS "column", n.n_rows,
      |    (SELECT count(*) FROM orders
      |     WHERE o_totalprice IS NOT NULL
      |       AND (o_totalprice < 0.0 OR o_totalprice > 400000.0)) AS n_violations FROM n
      |  UNION ALL SELECT 'in_set', 'o_orderstatus', n.n_rows,
      |    (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
      |       AND CAST(o_orderstatus AS VARCHAR) NOT IN ('F', 'O', 'P')) FROM n
      |  UNION ALL SELECT 'matches_regex', 'o_orderpriority', n.n_rows,
      |    (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL
      |       AND NOT regexp_matches(CAST(o_orderpriority AS VARCHAR), '^[1-5]-.*')) FROM n
      |  UNION ALL SELECT 'not_null', 'o_orderkey', n.n_rows,
      |    (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) FROM n
      |  UNION ALL SELECT 'ref_integrity', 'o_custkey', n.n_rows,
      |    (SELECT count(*) FROM orders o WHERE o.o_custkey IS NOT NULL
      |       AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) FROM n
      |  UNION ALL SELECT 'unique', 'o_orderkey', n.n_rows,
      |    (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
      |      (SELECT count(*) AS c FROM orders GROUP BY o_orderkey
      |       HAVING count(*) > 1)) FROM n)
      |SELECT rule, "column", n_rows, n_violations, n_violations = 0 AS pass
      |FROM r ORDER BY rule, "column"""".stripMargin

  /** Profile: PSI distribution drift of event `value` — purchase-type
    * traffic (current) vs view-type (baseline), 10 fixed-width cent
    * buckets from the baseline's range, Laplace-smoothed shares.
    */
  private def psiDriftQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.profile.Drift.psiReport(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"),
      "value")
  }

  /** a_psi_drift: 10 fixed-width cent buckets from the baseline range,
    * Laplace-smoothed shares, ln of one exact-integer-product ratio
    * (6 dp), terms in integer nano-units. */
  private def psiDriftSql: String =
    """WITH b AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS u FROM events
      |           WHERE event_type = 'view'),
      |c AS (SELECT CAST(round(value * 100.0) AS BIGINT) AS u FROM events
      |      WHERE event_type = 'click'),
      |bounds AS (SELECT min(u) AS lo,
      |    greatest(1, CAST(ceil(CAST(max(u) - min(u) + 1 AS DOUBLE) / 10.0) AS BIGINT)) AS w
      |  FROM b),
      |bb AS (SELECT least(9, greatest(0,
      |         CAST(floor(CAST(u - lo AS DOUBLE) / CAST(w AS DOUBLE)) AS BIGINT))) AS bkt,
      |         count(*) AS cnt
      |       FROM b, bounds GROUP BY 1),
      |cc2 AS (SELECT least(9, greatest(0,
      |          CAST(floor(CAST(u - lo AS DOUBLE) / CAST(w AS DOUBLE)) AS BIGINT))) AS bkt,
      |          count(*) AS cnt
      |        FROM c, bounds GROUP BY 1),
      |bk AS (SELECT unnest(range(0, 10)) AS bkt),
      |j AS (SELECT bk.bkt, coalesce(bb.cnt, 0) AS cb, coalesce(cc2.cnt, 0) AS cc,
      |        (SELECT count(*) FROM b) AS nb, (SELECT count(*) FROM c) AS nc
      |      FROM bk LEFT JOIN bb USING (bkt) LEFT JOIN cc2 USING (bkt)),
      |t AS (SELECT nb, nc,
      |        CAST(floor((CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)
      |                  - CAST(cc + 1 AS DOUBLE) / CAST(nc + 10 AS DOUBLE))
      |          * round(ln(CAST((cb + 1) * (nc + 10) AS DOUBLE)
      |                   / CAST((cc + 1) * (nb + 10) AS DOUBLE)), 6)
      |          * 1000000000.0) AS BIGINT) AS tn
      |      FROM j),
      |agg AS (SELECT any_value(nb) AS n_base, any_value(nc) AS n_current,
      |          round(CAST(sum(tn) AS DOUBLE) / 1000000000.0, 6) AS psi
      |        FROM t)
      |SELECT n_base, n_current, psi, psi > 0.2 AS drifted FROM agg""".stripMargin

  /** Profile: mutual information between the classic correlated TPC-H
    * pair (returnflag, linestatus) — the soft-functional-dependency
    * probe a join planner reads.
    */
  private def entropyMiQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.mutualInformation(
      t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")

  /** a_entropy_mi: MI(returnflag, linestatus) with the same micro-nat
    * discipline; nmi = mi / min(h_a, h_b) of the already-rounded
    * entropies. */
  private def entropyMiSql: String = {
    def h(c: String) =
      s"""(SELECT round(CAST(sum(tm) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) / 1000000.0, 6)
         | FROM (SELECT cnt, CAST(sum(cnt) OVER () AS BIGINT) AS n,
         |         CAST(floor(CAST(cnt AS DOUBLE) * round(ln(CAST(sum(cnt) OVER () AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) * 1000000.0) AS BIGINT) AS tm
         |       FROM (SELECT count(*) AS cnt FROM lineitem GROUP BY CAST($c AS VARCHAR))))""".stripMargin
    s"""WITH p AS (SELECT CAST(l_returnflag AS VARCHAR) AS a, CAST(l_linestatus AS VARCHAR) AS b FROM lineitem),
       |j AS (SELECT a, b, count(*) AS cab FROM p GROUP BY 1, 2),
       |ma AS (SELECT a, count(*) AS ca FROM p GROUP BY 1),
       |mb AS (SELECT b, count(*) AS cb FROM p GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM p),
       |mi AS (SELECT CAST(any_value(nn.n) AS BIGINT) AS n,
       |         sum(CAST(floor(CAST(cab AS DOUBLE)
       |           * round(ln(CAST(nn.n * cab AS DOUBLE) / CAST(ca * cb AS DOUBLE)), 6)
       |           * 1000000.0) AS BIGINT)) AS s
       |       FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn),
       |vals AS (SELECT ${h("l_returnflag")} AS h_a, ${h("l_linestatus")} AS h_b,
       |           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mi
       |         FROM mi)
       |SELECT h_a, h_b, mi,
       |  CASE WHEN least(h_a, h_b) = 0 THEN 0.0
       |       ELSE round(mi / least(h_a, h_b), 6) END AS nmi
       |FROM vals""".stripMargin
  }

  /** Each document's distinct word 3-shingles with its language, as
    * (lang, sh) rows. */
  private def langShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("lang"),
      explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), 3))).as("sh"))

  /** Profile: relational HLL distinct estimate vs exact, per lang, over
    * 3-word shingles — the estimate column is oracle-replayed register
    * by register (integer-space harmonic sum, no FP summation order).
    */
  private def hllDistinctQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Hll
    val sh = langShingles(s, dir)
    val spec = Hll.HllSpec(p = 8)
    val est = Hll.estimate(Hll.registers(sh, "sh", spec, Seq("lang")), spec, Seq("lang"))
    val exact = sh.distinct().groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, "lang").orderBy("lang")
  }

  /** a_hll_distinct: replay the p=8 HLL — reg = low 8 md5_low32 bits,
    * rho = 25 - msb(bin-length) of the high 24 bits, register max,
    * harmonic sum in exact integers (terms 2^(33-rho), zeros counted via
    * 256 - n_regs), then the one fixed-shape raw / linear-counting
    * estimate expression. alpha·m²·2³³ is written with the same
    * operation order as the JVM literal so the doubles agree bitwise. */
  private def hllDistinctSql: String =
    raw"""WITH ${shingle3Ctes("lang")},
      |sv AS (SELECT lang, unnest(sh) AS s FROM g),
      |h AS (SELECT lang, s, (md5_number_lower(s) & 4294967295) AS hv FROM sv),
      |r AS (SELECT lang, hv & 255 AS reg,
      |        CASE WHEN (hv >> 8) = 0 THEN 25 ELSE 25 - length(bin(hv >> 8)) END AS rho
      |      FROM h),
      |regs AS (SELECT lang, reg, max(rho) AS rho FROM r GROUP BY 1, 2),
      |agg AS (SELECT lang, count(*) AS n_regs,
      |          sum(CAST(1 AS BIGINT) << (33 - rho)) AS s_touched
      |        FROM regs GROUP BY 1),
      |est AS (SELECT lang,
      |    CASE WHEN (0.7213 / (1 + 1.079 / 256.0) * 256.0 * 256.0 * 8589934592.0)
      |              / CAST(s_touched + (256 - n_regs) * 8589934592 AS DOUBLE) <= 640.0
      |           AND (256 - n_regs) > 0
      |         THEN 256.0 * ln(256.0 / CAST(256 - n_regs AS DOUBLE))
      |         ELSE (0.7213 / (1 + 1.079 / 256.0) * 256.0 * 256.0 * 8589934592.0)
      |              / CAST(s_touched + (256 - n_regs) * 8589934592 AS DOUBLE)
      |    END AS e
      |  FROM agg),
      |exact AS (SELECT lang, count(DISTINCT s) AS exact_distinct FROM sv GROUP BY lang)
      |SELECT exact.lang, exact.exact_distinct, round(est.e, 4) AS hll_estimate
      |FROM exact JOIN est USING (lang) ORDER BY lang""".stripMargin

  /** Profile: KMV (k-minimum-values) distinct estimate vs exact, per
    * lang, over the same 3-word shingles as [[hllDistinctQ]] — the
    * retained-hash sketch is oracle-replayed hash by hash.
    */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Kmv
    val sh = langShingles(s, dir)
    val spec = Kmv.KmvSpec(k = 256)
    val est = Kmv.estimate(Kmv.sketch(sh, "sh", spec, Seq("lang")), spec, Seq("lang"))
    val exact = sh.distinct().groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, "lang").orderBy("lang")
  }

  /** a_kmv_distinct: replay the k=256 KMV sketch — distinct low-32 md5
    * hashes, the 256 smallest per lang, then the one fixed-shape
    * (k-1)·2^32 / (kth+1) estimate double. The numerator literal is
    * written as the same two-factor product the JVM computes. */
  private def kmvDistinctSql: String =
    s"""$kmvShingleCte,
      |k AS (SELECT lang, hv FROM h
      |      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hv) <= 256),
      |agg AS (SELECT lang, count(*) AS n, max(hv) AS kth FROM k GROUP BY 1),
      |est AS (SELECT lang,
      |    CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
      |         ELSE (255.0 * 4294967296.0) / (CAST(kth AS DOUBLE) + 1.0)
      |    END AS e FROM agg),
      |exact AS (SELECT lang, count(DISTINCT s) AS exact_distinct FROM sv GROUP BY lang)
      |SELECT exact.lang, exact.exact_distinct, round(est.e, 4) AS kmv_estimate
      |FROM exact JOIN est USING (lang) ORDER BY lang""".stripMargin

  /** Profile: KMV set algebra — union / intersection / Jaccard estimates
    * between every lang pair's shingle sets, from the sketches alone
    * (the capability HLL registers cannot offer), vs the exact values.
    */
  private def kmvSetOpsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Kmv
    val sh = langShingles(s, dir)
    val spec = Kmv.KmvSpec(k = 256)
    val est = Kmv.setEstimates(Kmv.sketch(sh, "sh", spec, Seq("lang")), "lang", spec)
    val d = sh.distinct()
    val exact = d.select(col("lang").as("ga"), col("sh"))
      .join(d.select(col("lang").as("gb"), col("sh")), "sh")
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("exact_intersect"))
    est.join(exact, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("exact_intersect"))
      .orderBy("ga", "gb")
  }

  /** a_kmv_setops: replay the theta-style set algebra — combined
    * 256-smallest of each lang pair's retained hashes with membership
    * flags, union estimate from the pair's kth hash, jaccard from the
    * both-flag fraction, intersection = jaccard × union. */
  private def kmvSetOpsSql: String =
    s"""$kmvShingleCte,
      |k AS (SELECT lang, hv FROM h
      |      QUALIFY row_number() OVER (PARTITION BY lang ORDER BY hv) <= 256),
      |pairs AS (SELECT a.lang AS ga, b.lang AS gb
      |          FROM (SELECT DISTINCT lang FROM k) a, (SELECT DISTINCT lang FROM k) b
      |          WHERE a.lang < b.lang),
      |members AS (
      |  SELECT ga, gb, hv, max(in_a) AS in_a, max(in_b) AS in_b FROM (
      |    SELECT p.ga, p.gb, k.hv, 1 AS in_a, 0 AS in_b
      |    FROM pairs p JOIN k ON k.lang = p.ga
      |    UNION ALL
      |    SELECT p.ga, p.gb, k.hv, 0, 1
      |    FROM pairs p JOIN k ON k.lang = p.gb)
      |  GROUP BY 1, 2, 3),
      |comb AS (SELECT * FROM members
      |         QUALIFY row_number() OVER (PARTITION BY ga, gb ORDER BY hv) <= 256),
      |agg AS (SELECT ga, gb, count(*) AS n_l, max(hv) AS lth,
      |          sum(in_a * in_b) AS n_both FROM comb GROUP BY 1, 2),
      |est AS (SELECT ga, gb,
      |    CASE WHEN n_l < 256 THEN CAST(n_l AS DOUBLE)
      |         ELSE (255.0 * 4294967296.0) / (CAST(lth AS DOUBLE) + 1.0)
      |    END AS u,
      |    CAST(n_both AS DOUBLE) / CAST(n_l AS DOUBLE) AS j
      |  FROM agg),
      |dsv AS (SELECT DISTINCT lang, s FROM sv),
      |exact AS (SELECT a.lang AS ga, b.lang AS gb, count(*) AS exact_intersect
      |          FROM dsv a JOIN dsv b ON a.s = b.s AND a.lang < b.lang
      |          GROUP BY 1, 2)
      |SELECT est.ga, est.gb, round(u, 4) AS union_est,
      |  round(j * u, 4) AS intersect_est, round(j, 6) AS jaccard_est,
      |  coalesce(exact.exact_intersect, 0) AS exact_intersect
      |FROM est LEFT JOIN exact USING (ga, gb) ORDER BY ga, gb""".stripMargin

  /** Snapshot schema/profile drift: two column-subset snapshots of
    * `orders` with disjoint filters — one column removed, one added, the
    * shared ones stat-shifted ([[graft.profile.SnapshotDiff.diff]]).
    */
  private def schemaDiffQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val snapA = o.filter(col("o_orderkey") % 3 < 2)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val snapB = o.filter(col("o_orderkey") % 3 > 0)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    graft.profile.SnapshotDiff.diff(snapA, snapB)
  }

  // a_schema_diff: per-side column stats replayed with the engine's
  // profile semantics (unique counts the null group; strings P2
  // empty→null), full-outer joined, status by the same CASE ladder.
  private def schemaDiffSql: String =
    """WITH a AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |           FROM orders WHERE o_orderkey % 3 < 2),
      |b AS (SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
      |      FROM orders WHERE o_orderkey % 3 > 0),
      |pa AS (
      |  SELECT 'o_orderkey' AS col_name, 'integer' AS type_a, count(*) AS rows_a,
      |    count(*) - count(o_orderkey) AS nulls_a,
      |    count(DISTINCT o_orderkey) + CAST(count(*) > count(o_orderkey) AS BIGINT) AS uniq_a
      |  FROM a
      |  UNION ALL
      |  SELECT 'o_custkey', 'integer', count(*), count(*) - count(o_custkey),
      |    count(DISTINCT o_custkey) + CAST(count(*) > count(o_custkey) AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 'o_orderstatus', 'string', count(*),
      |    count(*) - count(NULLIF(o_orderstatus, '')),
      |    count(DISTINCT NULLIF(o_orderstatus, ''))
      |      + CAST(count(*) > count(NULLIF(o_orderstatus, '')) AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 'o_totalprice', 'float', count(*), count(*) - count(o_totalprice),
      |    count(DISTINCT o_totalprice) + CAST(count(*) > count(o_totalprice) AS BIGINT) FROM a),
      |pb AS (
      |  SELECT 'o_orderkey' AS col_name, 'integer' AS type_b, count(*) AS rows_b,
      |    count(*) - count(o_orderkey) AS nulls_b,
      |    count(DISTINCT o_orderkey) + CAST(count(*) > count(o_orderkey) AS BIGINT) AS uniq_b
      |  FROM b
      |  UNION ALL
      |  SELECT 'o_custkey', 'integer', count(*), count(*) - count(o_custkey),
      |    count(DISTINCT o_custkey) + CAST(count(*) > count(o_custkey) AS BIGINT) FROM b
      |  UNION ALL
      |  SELECT 'o_orderpriority', 'string', count(*),
      |    count(*) - count(NULLIF(o_orderpriority, '')),
      |    count(DISTINCT NULLIF(o_orderpriority, ''))
      |      + CAST(count(*) > count(NULLIF(o_orderpriority, '')) AS BIGINT) FROM b
      |  UNION ALL
      |  SELECT 'o_totalprice', 'float', count(*), count(*) - count(o_totalprice),
      |    count(DISTINCT o_totalprice) + CAST(count(*) > count(o_totalprice) AS BIGINT) FROM b)
      |SELECT col_name,
      |  CASE WHEN type_a IS NULL THEN 'added'
      |       WHEN type_b IS NULL THEN 'removed'
      |       WHEN type_a <> type_b THEN 'type_changed'
      |       WHEN rows_a <> rows_b OR nulls_a <> nulls_b OR uniq_a <> uniq_b THEN 'changed'
      |       ELSE 'unchanged' END AS status,
      |  type_a, type_b, rows_a, nulls_a, uniq_a, rows_b, nulls_b, uniq_b
      |FROM pa FULL OUTER JOIN pb USING (col_name)
      |ORDER BY col_name""".stripMargin

  /** Join-key skew diagnosis on the fact table's supplier key — the
    * report that decides whether a salted join / AQE skew split is
    * needed and with what factor ([[graft.operators.Skew.keySkewProfile]]).
    */
  private def keySkewQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.keySkewProfile(t(s, dir, "lineitem"), "l_suppkey", topN = 15)
      .orderBy(col("n").desc, col("l_suppkey"))

  /** a_key_skew: top-15 l_suppkey frequencies with corpus share —
    * mirror of Skew.keySkewProfile's one-agg + broadcast-total plan. */
  private def keySkewSql: String =
    """WITH g AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM g)
      |SELECT g.l_suppkey, g.n, round(CAST(g.n AS DOUBLE) / t.tot, 6) AS share
      |FROM g, t ORDER BY g.n DESC, g.l_suppkey LIMIT 15""".stripMargin

  /** WOE / information value of order price against the F-status label
    * ([[graft.profile.Woe]]): 10 fixed-width cent buckets, add-one
    * smoothing, micro-exact IV total.
    */
  private def woeIvQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Woe.report(t(s, dir, "orders"), "o_totalprice",
      col("o_orderstatus") === "F", buckets = 10)
      .orderBy("bucket")

  /** a_woe_iv: WOE/IV of o_totalprice (10 fixed-width cent buckets) vs
    * the F-status label — integer-exact buckets and ln arguments,
    * micro-summed IV total. */
  private def woeIvSql: String =
    """WITH base AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad FROM orders),
      |bounds AS (SELECT min(c) AS lo, max(c) AS hi FROM base),
      |bk AS (SELECT least(9, CAST(floor((c - lo) * 10 / (hi - lo + 1)) AS BIGINT)) AS bucket, bad
      |  FROM base, bounds),
      |g AS (SELECT bucket, CAST(sum(1 - bad) AS BIGINT) AS n_good,
      |    CAST(sum(bad) AS BIGINT) AS n_bad FROM bk GROUP BY 1),
      |tt AS (SELECT CAST(sum(n_good) AS BIGINT) AS gt, CAST(sum(n_bad) AS BIGINT) AS bt FROM g),
      |s AS (SELECT bucket, n_good, n_bad,
      |  round(ln(CAST((n_good + 1) * (bt + 10) AS DOUBLE)
      |         / CAST((n_bad + 1) * (gt + 10) AS DOUBLE)), 6) AS woe
      |  FROM g, tt),
      |s2 AS (SELECT bucket, n_good, n_bad, woe,
      |  round((CAST(n_good + 1 AS DOUBLE) / (gt + 10)
      |       - CAST(n_bad + 1 AS DOUBLE) / (bt + 10)) * woe, 6) AS iv_contrib
      |  FROM s, tt),
      |u AS (SELECT *, CAST(round(iv_contrib * 1000000, 0) AS BIGINT) AS ivu FROM s2),
      |tot AS (SELECT CAST(sum(ivu) AS BIGINT) AS ivt FROM u)
      |SELECT bucket, n_good, n_bad, woe, iv_contrib,
      |  CAST(tot.ivt AS DOUBLE) / 1000000.0 AS iv_total
      |FROM u, tot ORDER BY bucket""".stripMargin

  /** Chi-square association between document language and source
    * ([[graft.profile.InfoTheory.chiSquareAssociation]]) — per-cell
    * contributions plus Cramér's V.
    */
  private def chi2AssocQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.chiSquareAssociation(
      t(s, dir, "documents"), "lang", "source")
      .orderBy("a", "b")

  /** a_chi2_assoc: Pearson chi-square of lang × source — integer
    * (o·n − r·c) deviations, round-6 per-cell contributions, micro-sum
    * total, Cramér's V. */
  private def chi2AssocSql: String =
    """WITH p AS (SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b FROM documents),
      |cells AS (SELECT a, b, count(*) AS observed FROM p GROUP BY 1, 2),
      |ra AS (SELECT a, CAST(sum(observed) AS BIGINT) AS rtot FROM cells GROUP BY 1),
      |cb AS (SELECT b, CAST(sum(observed) AS BIGINT) AS ctot FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n,
      |    count(DISTINCT a) AS nr, count(DISTINCT b) AS nc FROM cells),
      |grid AS (SELECT ra.a, cb.b, coalesce(c.observed, 0) AS observed, ra.rtot, cb.ctot
      |  FROM ra CROSS JOIN cb LEFT JOIN cells c ON c.a = ra.a AND c.b = cb.b),
      |sc AS (SELECT g.a, g.b, g.observed,
      |    round(CAST(g.observed * t.n - g.rtot * g.ctot AS DOUBLE)
      |        * CAST(g.observed * t.n - g.rtot * g.ctot AS DOUBLE)
      |        / CAST(t.n * g.rtot * g.ctot AS DOUBLE), 6) AS contrib,
      |    t.n, t.nr, t.nc
      |  FROM grid g CROSS JOIN tot t),
      |u AS (SELECT *, CAST(round(contrib * 1000000, 0) AS BIGINT) AS cu FROM sc),
      |agg AS (SELECT CAST(sum(cu) AS BIGINT) AS chi2u, first(n) AS n,
      |    first(nr) AS nr, first(nc) AS nc FROM u)
      |SELECT u.a, u.b, u.observed, u.contrib,
      |  CAST(agg.chi2u AS DOUBLE) / 1000000.0 AS chi2,
      |  CAST((agg.nr - 1) * (agg.nc - 1) AS BIGINT) AS dof,
      |  CASE WHEN least(agg.nr, agg.nc) = 1 THEN 0.0
      |       ELSE round(sqrt(CAST(agg.chi2u AS DOUBLE) / 1000000.0
      |            / CAST(agg.n * least(agg.nr - 1, agg.nc - 1) AS DOUBLE)), 6) END AS cramers_v,
      |  agg.n AS n
      |FROM u, agg ORDER BY u.a, u.b""".stripMargin

  /** Benford first-digit conformance of order amounts
    * ([[graft.profile.Drift.benfordReport]]) — string-derived digits,
    * micro-exact MAD statistic.
    */
  private def benfordQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Drift.benfordReport(t(s, dir, "orders"), "o_totalprice")
      .orderBy("digit")

  /** a_benford: first-digit shares of integer-cent amounts vs
    * log10(1 + 1/d), MAD in exact micro space. Digits come from the
    * decimal STRING — no float log10 at power-of-ten boundaries. */
  private def benfordSql: String =
    """WITH base AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |cnt AS (SELECT CASE WHEN c > 0
      |      THEN CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) END AS digit,
      |    count(*) AS n
      |  FROM base GROUP BY 1),
      |tot AS (SELECT
      |    CAST(sum(CASE WHEN digit IS NOT NULL THEN n ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN digit IS NULL THEN n ELSE 0 END) AS BIGINT) AS nn
      |  FROM cnt),
      |digits AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) d(digit)),
      |sc AS (SELECT CAST(d.digit AS BIGINT) AS digit,
      |    CAST(coalesce(c.n, 0) AS BIGINT) AS n, tot.np, tot.nn,
      |    round(CAST(coalesce(c.n, 0) AS DOUBLE) / tot.np, 6) AS share,
      |    round(log10(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / d.digit), 6) AS expected
      |  FROM digits d LEFT JOIN cnt c ON c.digit = d.digit CROSS JOIN tot),
      |u AS (SELECT *, abs(CAST(round(share * 1000000, 0) AS BIGINT)
      |    - CAST(round(expected * 1000000, 0) AS BIGINT)) AS du FROM sc),
      |m AS (SELECT CAST(sum(du) AS BIGINT) AS madu FROM u)
      |SELECT u.digit, u.n, u.share, u.expected,
      |  round(CAST(m.madu AS DOUBLE) / 9000000.0, 6) AS mad,
      |  u.np AS n_pos, u.nn AS n_nonpos
      |FROM u, m ORDER BY u.digit""".stripMargin

  /** Two-sample KS drift: purchase-event values vs view-event values
    * ([[graft.profile.Drift.ksTest]]) — the nonparametric complement to
    * `a_psi_drift` over the same split.
    */
  private def ksTestQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.profile.Drift.ksTest(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"), "value")
  }

  /** a_ks_test: two-sample KS over integer-cent values — exact integer
    * ECDF cross-products, one final division, min-value tie-break. */
  private def ksTestSql: String =
    """WITH av AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
      |  WHERE event_type = 'purchase' AND value IS NOT NULL),
      |bv AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
      |  WHERE event_type = 'view' AND value IS NOT NULL),
      |m AS (SELECT c, CAST(sum(na) AS BIGINT) AS na, CAST(sum(nb) AS BIGINT) AS nb
      |  FROM (SELECT c, 1 AS na, 0 AS nb FROM av
      |        UNION ALL SELECT c, 0, 1 FROM bv) GROUP BY 1),
      |cum AS (SELECT c,
      |    CAST(sum(na) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
      |    CAST(sum(nb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_b
      |  FROM m),
      |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a, CAST(sum(nb) AS BIGINT) AS n_b FROM m)
      |SELECT tot.n_a, tot.n_b,
      |  round(CAST(abs(cum_a * tot.n_b - cum_b * tot.n_a) AS DOUBLE)
      |      / CAST(tot.n_a * tot.n_b AS DOUBLE), 6) AS d_stat,
      |  c AS at_cents
      |FROM cum, tot
      |ORDER BY abs(cum_a * tot.n_b - cum_b * tot.n_a) DESC, c LIMIT 1""".stripMargin

  /** Sketch-driven equi-depth binning of order totals
    * ([[graft.profile.QuantileSketch.equiDepthBins]]) — deciles from
    * the mergeable HDR sketch as cut points, realized bin populations
    * as the sketch-accuracy report.
    */
  private def eqfreqBinsQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.QuantileSketch.equiDepthBins(
      t(s, dir, "orders"), "o_totalprice").orderBy("bin")

  /** a_eqfreq_bins: replay the HDR quantization + decile-bucket cuts,
    * then bin every row by integer bucket comparison. */
  private def eqfreqBinsSql: String =
    """WITH qv AS (SELECT least(greatest(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1e6) AS BIGINT),
      |    -4611686018427387904), 4611686018427387904) AS q
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |bi AS (SELECT q, abs(q) AS a, length(bin(abs(q))) - 1 AS e FROM qv),
      |bk AS (SELECT (CASE WHEN q < 0 THEN -1 ELSE 1 END) *
      |    (CASE WHEN a < 32 THEN a
      |          ELSE (CAST(e AS BIGINT) - 4) * 32 + (a >> (e - 5)) - 32 END) AS bucket
      |  FROM bi),
      |counts AS (SELECT bucket, count(*) AS cnt FROM bk GROUP BY 1),
      |cum AS (SELECT bucket, cnt, sum(cnt) OVER (ORDER BY bucket) AS cum,
      |    sum(cnt) OVER () AS n FROM counts),
      |dk AS (SELECT bucket FROM cum CROSS JOIN (SELECT unnest(range(1, 10)) AS k)
      |  WHERE cum >= greatest((n * k + 9) // 10, 1)
      |    AND cum - cnt < greatest((n * k + 9) // 10, 1)),
      |binned AS (SELECT (SELECT count(*) FROM dk c WHERE b.bucket > c.bucket) AS bin
      |  FROM bk b),
      |g AS (SELECT bin, count(*) AS n_rows FROM binned GROUP BY 1),
      |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n FROM g)
      |SELECT CAST(g.bin AS BIGINT) AS bin, g.n_rows,
      |  round(CAST(g.n_rows AS DOUBLE) / t.n, 6) AS share
      |FROM g, t ORDER BY bin""".stripMargin

  /** Join-size estimation report: the System-R uniform-key estimate
    * `|A|·|B| / max(dA, dB)` vs the exact join cardinality — the
    * planner diagnostic behind broadcast/shuffle decisions, all in
    * exact integer space.
    */
  private def joinEstimateQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val a = li.agg(count(lit(1)).as("n_a"),
      countDistinct(col("l_orderkey")).as("d_a"))
    val b = o.agg(count(lit(1)).as("n_b"),
      countDistinct(col("o_orderkey")).as("d_b"))
    val exact = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    a.crossJoin(b).crossJoin(exact)
      .withColumn("est_rows", expr("(n_a * n_b) div greatest(d_a, d_b)"))
      .withColumn("rel_err", round(
        abs(col("est_rows") - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double"), 6))
      .select(col("n_a"), col("n_b"), col("d_a"), col("d_b"),
        col("est_rows"), col("exact_rows"), col("rel_err"))
  }

  /** a_join_estimate: the uniform-key join-size estimate vs exact. */
  private def joinEstimateSql: String =
    """WITH a AS (SELECT count(*) AS n_a, count(DISTINCT l_orderkey) AS d_a FROM lineitem),
      |b AS (SELECT count(*) AS n_b, count(DISTINCT o_orderkey) AS d_b FROM orders),
      |e AS (SELECT count(*) AS exact_rows FROM lineitem
      |      JOIN orders ON l_orderkey = o_orderkey)
      |SELECT n_a, n_b, d_a, d_b,
      |  CAST((n_a * n_b) // greatest(d_a, d_b) AS BIGINT) AS est_rows,
      |  exact_rows,
      |  round(CAST(abs(CAST((n_a * n_b) // greatest(d_a, d_b) AS BIGINT)
      |      - exact_rows) AS DOUBLE) / exact_rows, 6) AS rel_err
      |FROM a, b, e""".stripMargin

  /** Information-gain ranking of orders columns vs the status label
    * ([[graft.profile.InfoTheory.infoGainRanking]]) — float columns
    * excluded (double→string casts format differently across engines).
    */
  private def infoGainQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.infoGainRanking(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderdate", "o_orderpriority"), "o_orderstatus")

  /** a_info_gain: MI(col; o_orderstatus) per candidate column over
    * orders — one micro-nat MI block per arm, ranked. */
  private def infoGainSql: String = {
    def h(c: String) =
      s"""(SELECT round(CAST(sum(tm) AS DOUBLE) / CAST(any_value(n) AS DOUBLE) / 1000000.0, 6)
         | FROM (SELECT cnt, CAST(sum(cnt) OVER () AS BIGINT) AS n,
         |         CAST(floor(CAST(cnt AS DOUBLE) * round(ln(CAST(sum(cnt) OVER () AS DOUBLE) / CAST(cnt AS DOUBLE)), 6) * 1000000.0) AS BIGINT) AS tm
         |       FROM (SELECT count(*) AS cnt FROM orders GROUP BY CAST($c AS VARCHAR))))""".stripMargin
    def arm(c: String) =
      s"""SELECT '$c' AS col_name, mi AS info_gain,
         |  CASE WHEN least(h_a, h_b) = 0 THEN 0.0
         |       ELSE round(mi / least(h_a, h_b), 6) END AS nmi
         |FROM (
         |  WITH p AS (SELECT CAST($c AS VARCHAR) AS a, CAST(o_orderstatus AS VARCHAR) AS b FROM orders),
         |  j AS (SELECT a, b, count(*) AS cab FROM p GROUP BY 1, 2),
         |  ma AS (SELECT a, count(*) AS ca FROM p GROUP BY 1),
         |  mb AS (SELECT b, count(*) AS cb FROM p GROUP BY 1),
         |  nn AS (SELECT count(*) AS n FROM p),
         |  mi AS (SELECT CAST(any_value(nn.n) AS BIGINT) AS n,
         |           sum(CAST(floor(CAST(cab AS DOUBLE)
         |             * round(ln(CAST(nn.n * cab AS DOUBLE) / CAST(ca * cb AS DOUBLE)), 6)
         |             * 1000000.0) AS BIGINT)) AS s
         |         FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn)
         |  SELECT ${h(c)} AS h_a, ${h("o_orderstatus")} AS h_b,
         |    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS mi
         |  FROM mi)""".stripMargin
    val arms = Seq("o_custkey", "o_orderdate", "o_orderpriority")
      .map(arm).mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$arms
       |) ORDER BY info_gain DESC, col_name""".stripMargin
  }

  /** Box-plot profile per returnflag: positional quartiles in exact
    * integer cents, IQR, and Tukey-fence outlier counts (the 1.5·IQR
    * comparison doubled into integer space — no float fence). The rank
    * window is PARTITIONED by the group, so each group sorts
    * independently — the scale-safe per-group order-statistics shape.
    */
  private def boxplotQ(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("c"),
      col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("c"), col("l_orderkey"), col("l_linenumber"))
    val ranked = b.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val quart = ranked.groupBy("grp").agg(
      max(col("m")).as("n"),
      max(when(col("rn") === floor((col("m") + 3) / 4), col("c"))).as("q1"),
      avg(when(col("rn") === floor((col("m") + 1) / 2) ||
        col("rn") === floor(col("m") / 2) + 1, col("c"))).as("median"),
      max(when(col("rn") === floor((col("m") * 3 + 3) / 4), col("c"))).as("q3"))
    val outs = b.join(broadcast(quart.select(col("grp"), col("q1"), col("q3"))), "grp")
      .filter(col("c") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3 ||
        col("c") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3)
      .groupBy("grp").agg(count(lit(1)).as("n_outliers"))
    quart.join(outs, Seq("grp"), "left")
      .na.fill(0L, Seq("n_outliers"))
      .select(col("grp"), col("n"), col("q1"), col("median"), col("q3"),
        (col("q3") - col("q1")).as("iqr"), col("n_outliers"))
      .orderBy("grp")
  }

  /** a_boxplot: per-group positional quartiles in integer cents and
    * Tukey fences doubled into integer space. */
  private def boxplotSql: String =
    """WITH b AS (SELECT l_returnflag AS grp,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
      |    l_orderkey, l_linenumber
      |  FROM lineitem),
      |r AS (SELECT grp, c,
      |    CAST(row_number() OVER (PARTITION BY grp ORDER BY c, l_orderkey, l_linenumber) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS m
      |  FROM b),
      |q AS (SELECT grp, max(m) AS n,
      |    max(CASE WHEN rn = (m + 3) // 4 THEN c END) AS q1,
      |    avg(CASE WHEN rn = (m + 1) // 2 OR rn = m // 2 + 1 THEN c END) AS median,
      |    max(CASE WHEN rn = (m * 3 + 3) // 4 THEN c END) AS q3
      |  FROM r GROUP BY 1),
      |o AS (SELECT b.grp, count(*) AS n_outliers
      |  FROM b JOIN q ON q.grp = b.grp
      |  WHERE b.c * 2 < q.q1 * 2 - (q.q3 - q.q1) * 3
      |     OR b.c * 2 > q.q3 * 2 + (q.q3 - q.q1) * 3
      |  GROUP BY 1)
      |SELECT q.grp, q.n, q.q1, q.median, q.q3, q.q3 - q.q1 AS iqr,
      |  coalesce(o.n_outliers, 0) AS n_outliers
      |FROM q LEFT JOIN o ON o.grp = q.grp ORDER BY q.grp""".stripMargin

  /** k-anonymity / l-diversity release audit of `customer` under the
    * (nation, segment) quasi-identifier with account balance as the
    * sensitive attribute ([[graft.operators.Privacy.kAnonymityReport]]).
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonymityReport(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      "c_acctbal", k = 10L)

  private def kAnonymitySql: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
      |    count(DISTINCT c_acctbal) AS l_div
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(sum(class_size) AS BIGINT) AS n_rows,
      |  count(*) AS n_classes,
      |  CAST(min(class_size) AS BIGINT) AS k_anonymity,
      |  CAST(sum(CASE WHEN class_size = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_singletons,
      |  CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
      |    AS BIGINT) AS rows_below_k,
      |  round(CAST(sum(CASE WHEN class_size < 10 THEN class_size ELSE 0 END)
      |      AS DOUBLE) / CAST(sum(class_size) AS DOUBLE), 6) AS share_below_k,
      |  CAST(min(l_div) AS BIGINT) AS min_l_diversity,
      |  CAST(10 AS BIGINT) AS k
      |FROM cls""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("a_bootstrap_ci", bootstrapCiQ, bootstrapCiSql),
    QuerySpec("a_col_entropy", colEntropyQ, colEntropySql),
    QuerySpec("a_fd_scan", fdScanQ, fdScanSql),
    QuerySpec("a_ind_scan", indScanQ, indScanSql),
    QuerySpec("a_key_discovery", keyDiscoveryQ, keyDiscoverySql),
    QuerySpec("q_class_weights", classWeightsQ, classWeightsSql),
    QuerySpec("q_calibration", calibrationQ, calibrationSql),
    QuerySpec("p_quality_checks", qualityChecksQ, qualityChecksSql),
    QuerySpec("a_psi_drift", psiDriftQ, psiDriftSql),
    QuerySpec("a_entropy_mi", entropyMiQ, entropyMiSql),
    QuerySpec("a_hll_distinct", hllDistinctQ, hllDistinctSql),
    QuerySpec("a_kmv_distinct", kmvDistinctQ, kmvDistinctSql),
    QuerySpec("a_kmv_setops", kmvSetOpsQ, kmvSetOpsSql),
    QuerySpec("a_schema_diff", schemaDiffQ, schemaDiffSql),
    QuerySpec("a_key_skew", keySkewQ, keySkewSql),
    QuerySpec("a_woe_iv", woeIvQ, woeIvSql),
    QuerySpec("a_chi2_assoc", chi2AssocQ, chi2AssocSql),
    QuerySpec("a_benford", benfordQ, benfordSql),
    QuerySpec("a_ks_test", ksTestQ, ksTestSql),
    QuerySpec("a_eqfreq_bins", eqfreqBinsQ, eqfreqBinsSql),
    QuerySpec("a_join_estimate", joinEstimateQ, joinEstimateSql),
    QuerySpec("a_info_gain", infoGainQ, infoGainSql),
    QuerySpec("a_boxplot", boxplotQ, boxplotSql),
    QuerySpec("p_k_anonymity", kAnonymityQ, kAnonymitySql))
}
