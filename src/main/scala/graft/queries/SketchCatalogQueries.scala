package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.profile.Profiler
import graft.search.Discovery
import graft.functions.SketchFunctions._

import Shared._

/** The paper's sketch catalog: per-column profiles, MinHash digests,
  * deciles and content snapshots built by `SketchBuild.build`, the
  * unionable/joinable table search over them, and the model features
  * derived from them.
  *
  * Sketch queries are verified EXACTLY: the engine's MinHash/SimHash base
  * hash is MD5-derived (`MinHash.md5Low32/md5Low64` == DuckDB
  * `md5_number_lower`), and the permutation constants are embedded from
  * the same `MinHash.perms()` the engine uses, so DuckDB recomputes whole
  * digests independently and the driver hash-compares them.
  */
object SketchCatalogQueries {

  private val lineitemNumeric = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The oracle-facing stats projection of a profile catalog (shared by
    * the parquet- and CSV-lake unified rows). */
  private def statsSummary(prof: DataFrame): DataFrame =
    prof.select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        round(col("min_v"), 6).as("min_r"), round(col("max_v"), 6).as("max_r"))
      .orderBy("table_name", "col_idx")

  /** (t, ci, col_name, col_type) metadata VALUES CTE. */
  private def metaCte(tables: Seq[String]): String = {
    val rows = tables.flatMap { tbl =>
      lakeSchemas(tbl).zipWithIndex.map { case ((c, lt), i) =>
        s"('$tbl',$i,'$c','$lt')"
      }
    }.mkString(",")
    s"meta(t, ci, cn, ct) AS (SELECT * FROM (VALUES $rows) _m(t, ci, cn, ct))"
  }

  /** Exact-value + word-token digest CTEs over `vals` → edig(t, ci,
    * mh_exact list) and wdig(t, ci, mh_words list), each slot-ordered. */
  private val digestCtes: String =
    s"""dvals AS (SELECT DISTINCT t, ci, v FROM vals WHERE v IS NOT NULL),
       |emins AS (SELECT t, ci, pi, ${mhSlotMin("v")} AS mh
       |          FROM dvals CROSS JOIN perms GROUP BY t, ci, pi),
       |edig AS (SELECT t, ci, list(mh ORDER BY pi) AS d FROM emins GROUP BY t, ci),
       |wvals AS (SELECT DISTINCT t, ci, tok FROM (
       |            SELECT v.t, v.ci, unnest(string_split_regex(v.v, '\\s+')) AS tok
       |            FROM vals v JOIN meta USING (t, ci)
       |            WHERE v.v IS NOT NULL AND meta.ct = 'string') WHERE tok <> ''),
       |wmins AS (SELECT t, ci, pi, ${mhSlotMin("tok")} AS mh
       |          FROM wvals CROSS JOIN perms GROUP BY t, ci, pi),
       |wdig AS (SELECT t, ci, list(mh ORDER BY pi) AS d FROM wmins GROUP BY t, ci)""".stripMargin

  /** Row-snapshot digest chain shared by content_snapshots /
    * q5_table_search / s7_json_roundtrip: rendered rows per table →
    * distinct → per-perm MinHash → snapd(t, d) digest lists (mirrors
    * Profiler's content-snapshot MinHash over space-joined rows). */
  private def snapshotDigestCtes(tables: Seq[String]): String = {
    val rowSelects = tables.map { tbl =>
      val cols = lakeSchemas(tbl).map { case (c, _) => s"CAST($c AS VARCHAR)" }
      s"SELECT '$tbl' AS t, concat_ws(' ', ${cols.mkString(", ")}) AS rs FROM ${cappedSrc(tbl, 10000)}"
    }
    s"""srows AS (
       |  ${rowSelects.mkString("\n  UNION ALL ")}),
       |sdrows AS (SELECT DISTINCT t, rs FROM srows),
       |smins AS (SELECT t, pi, ${mhSlotMin("rs")} AS mh
       |          FROM sdrows CROSS JOIN perms GROUP BY t, pi),
       |snapd AS (SELECT t, list(mh ORDER BY pi) AS d FROM smins GROUP BY t)""".stripMargin
  }

  /** Per-(t, ci) stats CTE over a `vals(t, ci, v)` relation — the ONE
    * definition of rows/nulls/distincts/byte-width every profile-stats
    * oracle shares. */
  private def statsCte(roundCw: Boolean = true): String = {
    val cw = "CAST(SUM(octet_length(encode(v))) AS DOUBLE) / count(v)"
    s"""stats AS (
       |  SELECT t, ci, count(*) AS n_rows, count(*) - count(v) AS num_nan,
       |         count(DISTINCT v) + CASE WHEN count(*) > count(v) THEN 1 ELSE 0 END AS n_unique,
       |         ${if (roundCw) s"round($cw, 6)" else cw} AS cw
       |  FROM vals GROUP BY t, ci)""".stripMargin
  }

  /** Stats-summary skeleton shared by the unified lake/CSV profile rows:
    * `leadingCtes` must define vals(t, ci, v) and meta(t, ci, cn, ct);
    * `nSelects` feed nvals(t, ci, nv) for numeric/date columns. */
  private def statsProfileSql(leadingCtes: String, nSelects: Seq[String]): String =
    s"""WITH $leadingCtes,
       |${statsCte()},
       |nvals AS (
       |  ${nSelects.mkString("\n  UNION ALL ")}),
       |nstats AS (SELECT t, ci, round(min(nv), 6) AS min_r, round(max(nv), 6) AS max_r
       |           FROM nvals GROUP BY t, ci)
       |SELECT meta.t AS table_name, CAST(meta.ci AS BIGINT) AS col_idx,
       |  meta.cn AS col_name, meta.ct AS col_type,
       |  stats.n_rows, stats.num_nan, stats.n_unique,
       |  CASE WHEN meta.ct = 'string' THEN stats.cw END AS cell_width_r,
       |  nstats.min_r, nstats.max_r
       |FROM meta JOIN stats USING (t, ci)
       |LEFT JOIN nstats USING (t, ci)
       |ORDER BY table_name, col_idx""".stripMargin

  private def profileSketchesSqlFor(tables: Seq[String]): String = {
    s"""WITH $permsCte,
       |${valsCte(tables, Some(10000))},
       |${metaCte(tables)},
       |${statsCte()},
       |$digestCtes
       |SELECT meta.t AS table_name, CAST(meta.ci AS BIGINT) AS col_idx,
       |  meta.cn AS col_name, meta.ct AS col_type,
       |  stats.n_rows, stats.num_nan, stats.n_unique,
       |  CASE WHEN meta.ct = 'string' THEN stats.cw END AS cell_width_r,
       |  array_to_string(edig.d, ',') AS mh_exact,
       |  CASE WHEN meta.ct = 'string' THEN array_to_string(wdig.d, ',') END AS mh_words
       |FROM meta JOIN stats USING (t, ci) JOIN edig USING (t, ci)
       |LEFT JOIN wdig USING (t, ci)
       |ORDER BY table_name, col_idx""".stripMargin
  }

  /** o4_search_minhash: the full sketch-mode discovery search — digests
    * over the capped catalog, per-query-column k·3 over-fetch, first-match
    * per candidate table, seen-cols dedup, column-vote rank (mirrors
    * Discovery.columnDistances + columnVoteRank for query 'supplier').
    * Date/other columns are omitted: the type-equality join makes them
    * unreachable from supplier's {integer,float,string} columns, and the
    * ns-timestamp render (events.ts) is the one cross-engine unstable one.
    */
  private def searchMinhashSql: String = searchSql("supplier", containment = false)

  /** Sketch-mode discovery search: digests over the capped catalog,
    * per-query-column k·3 over-fetch, first-match + seen-cols dedup,
    * column-vote rank. `containment = true` ranks by the J5 containment
    * estimator (query ⊆ candidate) instead of Jaccard — the Q4 subset
    * semantics. */
  private def searchSql(queryTable: String, containment: Boolean): String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val selects = tables.flatMap { tbl =>
      lakeSchemas(tbl).zipWithIndex.collect {
        case ((c, lt), i) if lt == "integer" || lt == "float" || lt == "string" =>
          val render =
            if (lt == "string") s"nullif(CAST($c AS VARCHAR), '')"
            else s"CAST($c AS VARCHAR)"
          s"SELECT '$tbl' AS t, $i AS ci, '$lt' AS ct, $render AS v FROM ${cappedSrc(tbl, 10000)}"
      }
    }
    val jExpr = "CAST(len([i FOR i IN range(1, 101) IF q.d[i] = c.d[i]]) AS DOUBLE) / 100.0"
    val distExpr =
      if (!containment) s"1.0 - $jExpr"
      else s"""1.0 - (CASE WHEN q.u <= 0 THEN 0.0
              ELSE least(1.0, ($jExpr) * (q.u + c.u) / ((1.0 + $jExpr) * q.u)) END)"""
    s"""WITH $permsCte,
       |vals AS (
       |  ${selects.mkString("\n  UNION ALL ")}
       |),
       |uq AS (
       |  SELECT t, ci, CAST(count(DISTINCT v) + CASE WHEN count(*) > count(v) THEN 1 ELSE 0 END AS DOUBLE) AS u
       |  FROM vals GROUP BY t, ci),
       |dvals AS (SELECT DISTINCT t, ci, ct, v FROM vals WHERE v IS NOT NULL),
       |emins AS (SELECT t, ci, any_value(ct) AS ct, pi, ${mhSlotMin("v")} AS mh
       |          FROM dvals CROSS JOIN perms GROUP BY t, ci, pi),
       |dig AS (SELECT e.t, e.ci, any_value(e.ct) AS ct, any_value(uq.u) AS u,
       |          list(e.mh ORDER BY e.pi) AS d
       |        FROM emins e JOIN uq ON e.t = uq.t AND e.ci = uq.ci
       |        GROUP BY e.t, e.ci),
       |q AS (SELECT * FROM dig WHERE t = '$queryTable'),
       |c AS (SELECT * FROM dig WHERE t <> '$queryTable'),
       |dists AS (
       |  SELECT q.ci AS q_ci, c.t AS cand_table, c.ci AS cand_ci,
       |    $distExpr AS dist
       |  FROM c JOIN q ON q.ct = c.ct),
       |knn AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_ci ORDER BY dist, cand_table, cand_ci) AS rnk
       |    FROM dists) WHERE rnk <= 30),
       |firstm AS (
       |  SELECT * FROM knn
       |  QUALIFY row_number() OVER (PARTITION BY q_ci, cand_table ORDER BY rnk) = 1),
       |dedup AS (
       |  SELECT * FROM firstm
       |  QUALIFY row_number() OVER (PARTITION BY cand_table, cand_ci ORDER BY dist, rnk) = 1)
       |SELECT cand_table, count(*) AS matched_cols, round(sum(dist), 6) AS sum_dist
       |FROM dedup GROUP BY cand_table
       |ORDER BY matched_cols DESC, sum_dist, cand_table
       |LIMIT 10""".stripMargin
  }

  // exact decimal-sum mean/std (order-independent; mirrors Profiler sums)
  private def meanSql(c: String) =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c)"

  private def stdSql(c: String) =
    s"""sqrt(greatest(CAST(SUM(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c)
       | - (${meanSql(c)}) * (${meanSql(c)}), 0))""".stripMargin.replace("\n", "")

  private def numericProfile(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(t(s, dir, "lineitem").select(lineitemNumeric.map(col): _*),
      "lineitem", withSketches = false, withQuantiles = false)
      .filter(col("col_type").isin("integer", "float"))
      .select(col("col_name"), col("rows").as("n_rows"), col("num_nan"),
        col("unique").as("n_unique"),
        exactMean.as("mean_r"), round(exactStd, 6).as("std_r"),
        col("min_v"), col("max_v"))
      .orderBy("col_name")

  private def profileStatsSql: String =
    lineitemNumeric.map { c =>
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(*) - count($c) AS num_nan,
         |  count(DISTINCT $c) + CASE WHEN count(*) > count($c) THEN 1 ELSE 0 END AS n_unique,
         |  ${meanSql(c)} AS mean_r, round(${stdSql(c)}, 6) AS std_r,
         |  CAST(min($c) AS DOUBLE) AS min_v, CAST(max($c) AS DOUBLE) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  private def quantileProfile(s: SparkSession, dir: String): DataFrame = {
    val p = Profiler.profile(t(s, dir, "lineitem").select(lineitemNumeric.map(col): _*),
      "lineitem", withSketches = false)
      .filter(col("col_type").isin("integer", "float"))
    val qCols = (1 to 9).map(i =>
      round(element_at(col("quantile"), i), 6).as(s"q$i")) ++
      Seq(exactMean.as("mean_q"),
        when(col("unique") > 2, round(exactStd, 6)).otherwise(lit(0.0)).as("std_q"),
        element_at(col("quantile"), 12).as("min_q"),
        element_at(col("quantile"), 13).as("max_q"))
    p.select(col("col_name") +: qCols: _*).orderBy("col_name")
  }

  private def quantileSql: String =
    lineitemNumeric.map { c =>
      val qs = (1 to 9).map(i => s"round(quantile_cont($c, 0.${i}), 6) AS q$i").mkString(", ")
      s"""SELECT '$c' AS col_name, $qs,
         |  ${meanSql(c)} AS mean_q,
         |  CASE WHEN count(DISTINCT $c) + CASE WHEN count(*) > count($c) THEN 1 ELSE 0 END > 2
         |       THEN round(${stdSql(c)}, 6) ELSE 0.0 END AS std_q,
         |  CAST(min($c) AS DOUBLE) AS min_q, CAST(max($c) AS DOUBLE) AS max_q
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    def setOf(tbl: String, c: String) =
      t(s, dir, tbl).select(col(c).cast("string").as("v")).filter(col("v").isNotNull).distinct()
    val pairs = Seq(
      ("c_nationkey~s_nationkey", setOf("customer", "c_nationkey"), setOf("supplier", "s_nationkey")),
      ("o_custkey~c_custkey", setOf("orders", "o_custkey"), setOf("customer", "c_custkey")),
      ("l_partkey~p_partkey", setOf("lineitem", "l_partkey"), setOf("part", "p_partkey")))
    pairs.map { case (label, a, b) =>
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      val ni = a.join(b, "v").agg(count(lit(1)).as("n_i"))
      na.crossJoin(nb).crossJoin(ni)
        .select(lit(label).as("pair"),
          round(col("n_i") / (col("n_a") + col("n_b") - col("n_i")), 6).as("jaccard"),
          round(col("n_i") / col("n_a"), 6).as("containment"))
    }.reduce(_ unionByName _).orderBy("pair")
  }

  private def jaccardPairSql(label: String, ta: String, ca: String, tb: String, cb: String): String =
    s"""SELECT '$label' AS pair,
       |  round(n_i / (n_a + n_b - n_i), 6) AS jaccard,
       |  round(n_i / n_a, 6) AS containment
       |FROM (SELECT
       |  (SELECT count(*) FROM (SELECT DISTINCT CAST($ca AS VARCHAR) AS v FROM $ta WHERE $ca IS NOT NULL)) AS n_a,
       |  (SELECT count(*) FROM (SELECT DISTINCT CAST($cb AS VARCHAR) AS v FROM $tb WHERE $cb IS NOT NULL)) AS n_b,
       |  (SELECT count(*) FROM
       |     (SELECT DISTINCT CAST($ca AS VARCHAR) AS v FROM $ta WHERE $ca IS NOT NULL) x
       |     JOIN (SELECT DISTINCT CAST($cb AS VARCHAR) AS v FROM $tb WHERE $cb IS NOT NULL) y USING (v)) AS n_i)""".stripMargin

  private def exactJaccardPairsSql: String = Seq(
    jaccardPairSql("c_nationkey~s_nationkey", "customer", "c_nationkey", "supplier", "s_nationkey"),
    jaccardPairSql("l_partkey~p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    jaccardPairSql("o_custkey~c_custkey", "orders", "o_custkey", "customer", "c_custkey"))
    .mkString("", "\nUNION ALL\n", "\nORDER BY pair")

  /** Relational lake used by the exact-search oracle (SQL stays bounded). */
  private val SearchLake = Seq("customer", "nation", "orders", "part", "region", "supplier")

  /** Session-cached DISTINCT (table_name, col_idx, value_str) value index
    * over the exact-search lake — the materialize-once analogue of
    * [[lakeCatalog]] for the value-level (non-sketch) search path. Every
    * exact-search query shares it instead of re-exploding and
    * re-distincting the lake; on a real cluster it would persist next to
    * the SketchStore catalog, bucketed by value_str.
    */
  private val valueIndexes =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def searchValueIndex(s: SparkSession, dir: String): DataFrame =
    valueIndexes.getOrElseUpdate(s"${System.identityHashCode(s)}#$dir#values",
      SearchLake.map { name =>
        Profiler.longFormat(t(s, dir, name)).withColumn("table_name", lit(name))
      }.reduce(_ unionByName _)
        .filter(col("value_str").isNotNull)
        .select(col("table_name"), col("col_idx"), col("value_str")).distinct()
        .localCheckpoint(eager = true))

  private def searchExact(s: SparkSession, dir: String): DataFrame =
    Discovery.columnVoteRank(
      Discovery.columnDistancesExact(searchValueIndex(s, dir), "supplier",
        valuesDistinct = true), k = 10)

  /** (table, columns) schema of the relational lake for the exact search. */
  private val searchSchemas: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "region" -> Seq("r_regionkey", "r_name"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

  private def searchExactSql: String = {
    val cv = searchSchemas.flatMap { case (tbl, cols) =>
      cols.zipWithIndex.map { case (c, i) =>
        s"SELECT DISTINCT '$tbl' AS t, $i AS ci, CAST($c AS VARCHAR) AS v FROM $tbl"
      }
    }.mkString("\n    UNION ALL ")
    s"""WITH cv AS (
       |  SELECT t, ci, v, count(*) OVER (PARTITION BY t, ci) AS n FROM (
       |    $cv
       |  ) WHERE v IS NOT NULL AND v <> ''
       |), q AS (
       |  SELECT ci AS q_ci, v, n AS n_q FROM cv WHERE t = 'supplier'
       |), c AS (
       |  SELECT t, ci, v, n AS n_c FROM cv WHERE t <> 'supplier'
       |), inter AS (
       |  SELECT q.q_ci, c.t, c.ci, q.n_q, c.n_c, count(*) AS ni
       |  FROM c JOIN q USING (v) GROUP BY 1, 2, 3, 4, 5
       |), dists AS (
       |  SELECT i.q_ci, i.t AS cand_table, i.ci AS cand_ci,
       |         1.0 - CAST(i.ni AS DOUBLE) / (i.n_q + i.n_c - i.ni) AS dist
       |  FROM inter i
       |), knn AS (
       |  SELECT * FROM dists
       |  QUALIFY row_number() OVER (PARTITION BY q_ci ORDER BY dist, cand_table, cand_ci) <= 30
       |), knn_r AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_ci ORDER BY dist, cand_table, cand_ci) AS rnk FROM knn
       |), firstm AS (
       |  SELECT * FROM knn_r
       |  QUALIFY row_number() OVER (PARTITION BY q_ci, cand_table ORDER BY rnk) = 1
       |), dedup AS (
       |  SELECT * FROM firstm
       |  QUALIFY row_number() OVER (PARTITION BY cand_table, cand_ci ORDER BY dist, rnk) = 1
       |)
       |SELECT cand_table, count(*) AS matched_cols, round(sum(dist), 6) AS sum_dist
       |FROM dedup GROUP BY cand_table
       |ORDER BY matched_cols DESC, sum_dist, cand_table
       |LIMIT 10""".stripMargin
  }

  // ---- sketch-pipeline operators ----
  // The MD5-derived base hash (MinHash.md5Low32 == DuckDB md5_number_lower)
  // makes every digest below recomputable by the DuckDB oracle, so the
  // whole sketch pipeline is hash-verified, not rows-only.

  /** A1–A3, A11, A12: per-column stats + exact/word MinHash digests.
    * Digests travel as comma-joined strings (deterministic, and the
    * driver's pandas row-sort chokes on raw array columns).
    */
  private def profileSketches(s: SparkSession, dir: String): DataFrame =
    lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "nation", "region", "part"))
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        array_join(col("minhash_words"), ",").as("mh_words"))
      .orderBy("table_name", "col_idx")

  /** profile_sketches: stats + stringified exact/word digests per column of
    * the five dimension tables (mirrors Profiler.profile + the md5 MinHash).
    */
  private def profileSketchesSql: String =
    profileSketchesSqlFor(Seq("customer", "supplier", "nation", "region", "part"))

  /** E1 at lake scale: the UNIFIED single-job profiler across ALL TEN
    * driver tables — every type the decoder supports (ints, doubles,
    * strings, ms/ns timestamps, float-list embeddings) flows through one
    * scan + one keyed aggregate and lands on DuckDB-recomputed stats.
    * Digest parity for the same catalog is covered by `profile_sketches`
    * (render-sensitive tables excluded there); this row pins the stats,
    * which only need render INJECTIVITY, across the full type surface.
    */
  private def lakeProfileUnifiedQ(s: SparkSession, dir: String): DataFrame =
    statsSummary(lakeCatalog(s, dir))

  /** lake_profile_unified: per-column stats of ALL TEN driver tables —
    * the widest type surface the unified decoder covers (ns timestamps,
    * float-list embeddings included). Stats need only render INJECTIVITY
    * (distinct values ↔ distinct renders), so engine-specific timestamp /
    * float-array formatting can't fake a match the way digest compares
    * would; digests for render-stable tables are pinned by
    * `profile_sketches` over the same catalog.
    */
  private def lakeProfileUnifiedSql: String = {
    val tables = lakeSchemas.keys.toSeq.sorted
    // numeric long-format for min/max: doubles as-is, dates/timestamps as
    // floor(epoch) — the same seconds truncation Spark's unix_timestamp
    // applies
    val nSelects = tables.flatMap { tbl =>
      lakeSchemas(tbl).zipWithIndex.collect {
        case ((c, lt), i) if lt == "integer" || lt == "float" =>
          s"SELECT '$tbl' AS t, $i AS ci, CAST($c AS DOUBLE) AS nv FROM ${cappedSrc(tbl, 10000)}"
        case ((c, lt), i) if lt == "date" =>
          s"SELECT '$tbl' AS t, $i AS ci, floor(epoch($c)) AS nv FROM ${cappedSrc(tbl, 10000)}"
      }
    }
    statsProfileSql(s"${valsCte(tables, Some(10000))},\n${metaCte(tables)}", nSelects)
  }

  private val CsvLakeDir = "/tmp/graft_fixtures/csv_lake"

  /** E1's CSV arm end-to-end: a deterministic CSV micro-lake — typed
    * columns (int/long/double/bool/date/timestamp/string), a
    * date-promoted yyyy/MM/dd column, a semicolon-sniffed file, a gzip
    * file, a messy quoted header with a row_index column, a decimal file
    * the strict in-task decoder REJECTS to the driver chain, and a
    * <5-row file P4 skips — built by `SketchBuild.build`: `CsvScan`'s
    * single-job binaryFile scan, fallback files read via `RobustCsv`,
    * every table profiled through the one keyed aggregate. The oracle
    * re-reads the same CSVs with pinned types and recomputes every stat,
    * so sniffing, tokenization, inference replay, promotion, and the
    * reject routing are all DuckDB-cross-checked. */
  private def lakeCsvUnifiedQ(s: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Paths.get(CsvLakeDir)
    java.nio.file.Files.createDirectories(d)
    def w(name: String, content: String): Unit =
      java.nio.file.Files.write(d.resolve(name), content.getBytes("UTF-8"))
    w("alpha.csv",
      "id,amount,big,flag,day,seen,note,when\n" +
      "1,1.5,3000000000,true,2021-01-15,2021-01-15 10:30:00,hello,2021/01/15\n" +
      "2,2.5,4000000000,false,2021-02-20,2021-02-20 11:45:30.123,\"with,comma\",2021/02/20\n" +
      "3,3.75,5000000000,True,2021-03-25,2021-03-25T12:00:00,,2021/03/25\n" +
      "4,4.0,6000000000,false,,2021-04-01 09:15,world,2021/04/30\n" +
      "5,500.0,7000000000,true,2021-05-05,2021-05-05 00:00:00,x y,2021/05/31\n" +
      "6,6.25,8000000000,false,2021-06-15,2021-06-15 23:59:59,zz,2021/06/01\n")
    w("beta.csv",
      "k;v;w\n1;one;0.5\n2;two;1.5\n3;three;2.5\n4;four;3.5\n5;five;4.5\n")
    locally {
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(d.resolve("gamma.csv.gz")))
      out.write("x,y\n10,a\n20,b\n30,c\n40,d\n50,e\n".getBytes("UTF-8"))
      out.close()
    }
    w("rowidx.csv",
      "row_index,\" Name \",\"V,al\"\n0,aa,1\n1,bb,2\n2,cc,3\n3,dd,4\n4,ee,5\n")
    w("dec.csv",
      "id,huge\n1,12345678901234567890123\n2,22345678901234567890123\n" +
      "3,3234567890123456789\n4,1\n5,2\n")
    w("tiny.csv", "a,b\n1,x\n2,y\n3,z\n")
    // the summary is a few dozen rows: hold them on the driver, so the
    // build's persisted decode and fallback frames can be released here
    // and nothing of the run stays cached in the session
    val catalog = graft.cli.SketchBuild.build(s, d.toString)
    try {
      val summary = statsSummary(catalog.profiles)
      s.createDataFrame(java.util.Arrays.asList(summary.collect(): _*), summary.schema)
    } finally catalog.release()
  }

  /** lake_csv_unified: DuckDB re-reads the CSV fixture lake (written by
    * `lakeCsvUnifiedQ` before oracles run) with PINNED column
    * types — the types Spark's inference must produce — and recomputes
    * the per-column stats, cross-checking the executor-side decode's
    * sniffing, tokenization, inference replay, date promotion, and the
    * decimal-file reject routing. `tiny.csv` (<5 rows) must be absent.
    */
  private def lakeCsvUnifiedSql: String = {
    val dir = CsvLakeDir
    // (cteName, tableLiteral, reader, cols: (name, colType, v, nv))
    val tables: Seq[(String, String, String, Seq[(String, String, String, String)])] = Seq(
      ("calpha", "alpha",
        // seen reads as VARCHAR: duckdb's TIMESTAMP cast needs seconds,
        // the fixture exercises the no-seconds grammar Spark accepts
        s"""SELECT *, strptime("when", '%Y/%m/%d') AS wh_d,
           |  CAST(CASE WHEN length(seen) = 16 THEN seen || ':00' ELSE seen END AS TIMESTAMP) AS seen_t
           |  FROM read_csv('$dir/alpha.csv', header=true, dateformat='%Y-%m-%d', columns={'id':'BIGINT','amount':'DOUBLE','big':'BIGINT','flag':'BOOLEAN','day':'DATE','seen':'VARCHAR','note':'VARCHAR','when':'VARCHAR'})""".stripMargin,
        Seq(
          ("id", "integer", "CAST(id AS VARCHAR)", "CAST(id AS DOUBLE)"),
          ("amount", "float", "CAST(amount AS VARCHAR)", "amount"),
          ("big", "integer", "CAST(big AS VARCHAR)", "CAST(big AS DOUBLE)"),
          ("flag", "string", "CAST(flag AS VARCHAR)", null),
          ("day", "date", "CAST(day AS VARCHAR)", "floor(epoch(day))"),
          ("seen", "date", "CAST(seen_t AS VARCHAR)", "floor(epoch(seen_t))"),
          ("note", "string", "note", null),
          // promoted: classified date, values stay strings (no numerics)
          ("when", "date", "\"when\"", null),
          ("when_DATE", "date", "CAST(wh_d AS VARCHAR)", "floor(epoch(wh_d))"))),
      ("cbeta", "beta",
        s"""SELECT * FROM read_csv('$dir/beta.csv', header=true, delim=';', columns={'k':'BIGINT','v':'VARCHAR','w':'DOUBLE'})""",
        Seq(
          ("k", "integer", "CAST(k AS VARCHAR)", "CAST(k AS DOUBLE)"),
          ("v", "string", "v", null),
          ("w", "float", "CAST(w AS VARCHAR)", "w"))),
      ("cgamma", "gamma",
        s"""SELECT * FROM read_csv('$dir/gamma.csv.gz', header=true, columns={'x':'BIGINT','y':'VARCHAR'})""",
        Seq(
          ("x", "integer", "CAST(x AS VARCHAR)", "CAST(x AS DOUBLE)"),
          ("y", "string", "y", null))),
      ("crowidx", "rowidx",
        s"""SELECT * FROM read_csv('$dir/rowidx.csv', header=true, columns={'row_index':'BIGINT','name':'VARCHAR','val':'BIGINT'})""",
        Seq( // row_index dropped (S4); sanitized names
          ("name", "string", "name", null),
          ("val", "integer", "CAST(val AS VARCHAR)", "CAST(val AS DOUBLE)"))),
      ("cdec", "dec",
        s"""SELECT * FROM read_csv('$dir/dec.csv', header=true, columns={'id':'BIGINT','huge':'DECIMAL(23,0)'})""",
        Seq( // the reject-routed file: driver chain reads it as decimal
          ("id", "integer", "CAST(id AS VARCHAR)", "CAST(id AS DOUBLE)"),
          ("huge", "float", "CAST(huge AS VARCHAR)", "CAST(huge AS DOUBLE)"))))
    val ctes = tables.map { case (cte, _, rdr, _) => s"$cte AS (\n$rdr)" }
    val vSelects = tables.flatMap { case (cte, tbl, _, cols) =>
      cols.zipWithIndex.map { case ((_, _, v, _), i) =>
        s"SELECT '$tbl' AS t, $i AS ci, $v AS v FROM $cte"
      }
    }
    val nSelects = tables.flatMap { case (cte, tbl, _, cols) =>
      cols.zipWithIndex.collect { case ((_, _, _, nv), i) if nv != null =>
        s"SELECT '$tbl' AS t, $i AS ci, $nv AS nv FROM $cte"
      }
    }
    val metaRows = tables.flatMap { case (_, tbl, _, cols) =>
      cols.zipWithIndex.map { case ((cn, ct, _, _), i) => s"('$tbl',$i,'$cn','$ct')" }
    }.mkString(",")
    statsProfileSql(
      s"""${ctes.mkString(",\n")},
         |vals AS (
         |  ${vSelects.mkString("\n  UNION ALL ")}),
         |meta(t, ci, cn, ct) AS (SELECT * FROM (VALUES $metaRows) _m(t, ci, cn, ct))""".stripMargin,
      nSelects)
  }

  /** E2E discovery composition guard: lake dir → `SketchBuild.build`
    * (fresh, not the session cache) → SketchStore parquet round-trip →
    * union search. Hash-verifies that the catalog schema, the store
    * layout, and Discovery's expectations stay glued (each piece is
    * separately green; this pins the seams). */
  private def e2eLakeSearch(s: SparkSession, dir: String): DataFrame = {
    val store = "/tmp/graft_fixtures/e2e_store"
    val catalog = graft.cli.SketchBuild.build(s, dir)
    try graft.store.SketchStore.writeParquet(catalog.profiles, store)
    finally catalog.release()
    Discovery.searchUnionable(
      graft.store.SketchStore.readParquet(s, store), "supplier", k = 10)
  }

  /** A13 + P7: whole-table content snapshots (MinHash over space-joined
    * row strings), digest stringified for the oracle compare. */
  private def contentSnapshots(s: SparkSession, dir: String): DataFrame =
    lakeSnapshots(s, dir)
      .select(col("table_name"), array_join(col("content_snapshot"), ",").as("snapshot"))
      .orderBy("table_name")

  /** content_snapshots: one digest per table over space-joined row strings
    * (A13/P7; mirrors Profiler.contentSnapshot over first-10k-capped reads).
    */
  private def contentSnapshotsSql: String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents")
    s"""WITH $permsCte,
       |${snapshotDigestCtes(tables)}
       |SELECT t AS table_name, array_to_string(d, ',') AS snapshot
       |FROM snapd ORDER BY table_name""".stripMargin
  }

  private def searchMinhash(s: SparkSession, dir: String): DataFrame =
    Discovery.searchUnionable(lakeCatalog(s, dir), "supplier", k = 10)

  /** Q4 subset mode: tables ranked by containment of nation's columns. */
  private def searchSubsetQ(s: SparkSession, dir: String): DataFrame =
    Discovery.searchSubset(lakeCatalog(s, dir), "nation", k = 10)

  private def searchSubsetSql: String = searchSql("nation", containment = true)

  private def minhashJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "orders", "part", "lineitem"))
    val cols = profiles.select(col("table_name"), col("col_name"), col("minhash_exact"), col("unique"))
    cols.as("a").join(cols.as("b"),
        col("a.table_name") < col("b.table_name"))
      .select(concat_ws(".", col("a.table_name"), col("a.col_name")).as("col_a"),
        concat_ws(".", col("b.table_name"), col("b.col_name")).as("col_b"),
        round(minhash_jaccard(col("a.minhash_exact"), col("b.minhash_exact")), 6).as("jaccard_est"),
        round(minhash_containment(col("a.minhash_exact"), col("b.minhash_exact"),
          col("a.unique"), col("b.unique")), 6).as("containment_est"))
      .filter(col("jaccard_est") > 0.05)
      .orderBy("col_a", "col_b")
  }

  /** j5_minhash_pairs: cross-table column-pair jaccard/containment from the
    * digests (mirrors minhashJaccardPairs + MinHash.containment).
    */
  private def minhashPairsSql: String = {
    val tables = Seq("customer", "supplier", "orders", "part", "lineitem")
    s"""WITH $permsCte,
       |${valsCte(tables, Some(10000))},
       |${metaCte(tables)},
       |uq AS (
       |  SELECT t, ci, count(DISTINCT v) + CASE WHEN count(*) > count(v) THEN 1 ELSE 0 END AS u
       |  FROM vals GROUP BY t, ci),
       |dvals AS (SELECT DISTINCT t, ci, v FROM vals WHERE v IS NOT NULL),
       |emins AS (SELECT t, ci, pi, ${mhSlotMin("v")} AS mh
       |          FROM dvals CROSS JOIN perms GROUP BY t, ci, pi),
       |dig AS (SELECT t, ci, list(mh ORDER BY pi) AS d FROM emins GROUP BY t, ci),
       |cols AS (
       |  SELECT meta.t, meta.ci, meta.cn, dig.d, uq.u
       |  FROM meta JOIN dig USING (t, ci) JOIN uq USING (t, ci)),
       |pairs AS (
       |  SELECT a.t || '.' || a.cn AS col_a, b.t || '.' || b.cn AS col_b,
       |    CAST(len([i FOR i IN range(1, 101) IF a.d[i] = b.d[i]]) AS DOUBLE) / 100.0 AS j,
       |    CAST(a.u AS DOUBLE) AS ua, CAST(b.u AS DOUBLE) AS ub
       |  FROM cols a JOIN cols b ON a.t < b.t)
       |SELECT col_a, col_b, round(j, 6) AS jaccard_est,
       |  round(CASE WHEN ua <= 0 THEN 0.0
       |             ELSE least(1.0, (j * (ua + ub)) / ((1.0 + j) * ua)) END, 6) AS containment_est
       |FROM pairs WHERE round(j, 6) > 0.05
       |ORDER BY col_a, col_b""".stripMargin
  }

  private def typeInference(s: SparkSession, dir: String): DataFrame =
    LakeTables.map { name =>
      val df = t(s, dir, name)
      val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
        (name, i.toLong, f.name, Profiler.logicalType(f.dataType))
      }
      s.createDataFrame(rows.toSeq).toDF("table_name", "col_idx", "col_name", "col_type")
    }.reduce(_ unionByName _).orderBy("table_name", "col_idx")

  /** type_inference: DuckDB's own parquet schema read mapped into the
    * reference's 4-type system. */
  private def typeInferenceSql: String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val describes = tables.map { tbl =>
      s"SELECT '$tbl' AS table_name, row_number() OVER () AS idx, column_name, column_type FROM (DESCRIBE $tbl)"
    }
    s"""SELECT table_name, CAST(idx - 1 AS BIGINT) AS col_idx, column_name AS col_name,
       |  CASE WHEN column_type LIKE '%[]' OR column_type LIKE 'STRUCT%'
       |            OR column_type LIKE 'MAP%' OR column_type = 'BLOB' THEN 'other'
       |       WHEN column_type LIKE 'TIMESTAMP%' OR column_type = 'DATE' THEN 'date'
       |       WHEN column_type IN ('TINYINT','SMALLINT','INTEGER','BIGINT','HUGEINT') THEN 'integer'
       |       WHEN column_type IN ('FLOAT','DOUBLE') OR column_type LIKE 'DECIMAL%' THEN 'float'
       |       WHEN column_type IN ('VARCHAR','BOOLEAN') THEN 'string'
       |       ELSE 'other' END AS col_type
       |FROM (${describes.mkString("\nUNION ALL ")})
       |ORDER BY table_name, col_idx""".stripMargin
  }

  /** A16: distinct-value head for small-domain columns — deterministic via
    * full sort (domains ≤ ~100 values), string-joined for the oracle. */
  private def valueHeads(s: SparkSession, dir: String): DataFrame = {
    def head(tbl: String, c: String) =
      t(s, dir, tbl).agg(
        array_join(array_sort(collect_set(col(c).cast("string"))), ",").as("values_head"))
        .select(lit(s"$tbl.$c").as("col_ref"), col("values_head"))
    Seq(head("documents", "lang"), head("documents", "source"),
      head("events", "event_type"), head("orders", "o_orderstatus"),
      head("orders", "o_orderpriority"), head("lineitem", "l_returnflag"))
      .reduce(_ unionByName _).orderBy("col_ref")
  }

  private def valueHeadsSql: String = Seq(
    ("documents", "lang"), ("documents", "source"), ("events", "event_type"),
    ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"))
    .map { case (tbl, c) =>
      s"""SELECT '$tbl.$c' AS col_ref,
         |  array_to_string(list_sort(list(DISTINCT CAST($c AS VARCHAR))), ',') AS values_head
         |FROM $tbl""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_ref")

  /** A9: correlation probes (the reference's row-index correlation check,
    * generalized to column pairs). */
  private def corrProbe(s: SparkSession, dir: String): DataFrame = {
    def c(tbl: String, x: String, y: String) =
      t(s, dir, tbl).agg(round(corr(col(x), col(y)), 6).as("corr_v"))
        .select(lit(s"$tbl.$x~$y").as("pair"), col("corr_v"))
    Seq(c("orders", "o_orderkey", "o_custkey"),
      c("orders", "o_orderkey", "o_totalprice"),
      c("lineitem", "l_quantity", "l_extendedprice"),
      c("events", "user_id", "value"))
      .reduce(_ unionByName _).orderBy("pair")
  }

  private def corrProbeSql: String = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_orderkey", "o_totalprice"),
    ("lineitem", "l_quantity", "l_extendedprice"),
    ("events", "user_id", "value"))
    .map { case (tbl, x, y) =>
      s"SELECT '$tbl.$x~$y' AS pair, round(corr($x, $y), 6) AS corr_v FROM $tbl"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY pair")

  /** A15: order-independent content hash per table (dup-table detection). */
  private def contentHashes(s: SparkSession, dir: String): DataFrame =
    Seq("region", "nation", "customer", "supplier", "part").map { n =>
      graft.ingest.Augment.contentHash(t(s, dir, n))
        .select(lit(n).as("table_name"), col("content_hash"), col("rows"))
    }.reduce(_ unionByName _).orderBy("table_name")

  /** a15_content_hash: order-independent md5Low64 row-hash sum per table
    * (mirrors Augment.contentHash: \\u0001-joined row, \\u0002 null marker,
    * header hash added). */
  private def contentHashSql: String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part")
    tables.map { tbl =>
      val cols = lakeSchemas(tbl).map(_._1)
      val rendered = cols.map(c => s"coalesce(CAST($c AS VARCHAR), chr(2))")
      val header = cols.mkString(",")
      s"""SELECT '$tbl' AS table_name,
         |  CAST(SUM(CAST(md5_number_lower(rs) AS HUGEINT)) + CAST(md5_number_lower('$header') AS HUGEINT) AS VARCHAR) AS content_hash,
         |  count(*) AS "rows"
         |FROM (SELECT concat_ws(chr(1), ${rendered.mkString(", ")}) AS rs FROM $tbl)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  /** P8/P9/A15: the 3-augmentation sketch-build invariant (`data_prep.py:
    * 281-337`) — aug 0 original, aug 1 obscured names, aug 2 deterministic
    * column shuffle. Content hashes DIFFER across augs (identity tracks
    * header + column order) while per-column value digests are IDENTICAL
    * under renaming/shuffle (the reference's sketch-reuse invariant):
    * `cols_reuse` counts aug columns whose recomputed digest equals the
    * original column's, mapped by position (aug 1) / permutation (aug 2).
    * The oracle recomputes each hash with the same permuted order
    * ([[graft.ingest.Augment.lehmerPerm]] is shared with the SQL
    * generator) and pins `cols_reuse` at full width. */
  private def augmentHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "part")
    val n = base.columns.length
    val augs: Seq[(Int, DataFrame, Seq[Int])] = Seq(
      (0, base, 0 until n),
      (1, graft.ingest.Augment.obscureColumns(base), 0 until n),
      (2, graft.ingest.Augment.shuffleColumnsDet(base, 2),
        graft.ingest.Augment.lehmerPerm(n, 2)))
    val d0 = Profiler.profile(base, "part", withQuantiles = false)
      .select(col("col_idx").cast("long").as("oidx"), col("minhash_exact").as("dig0"))
    augs.map { case (id, df, origIdxAtPos) =>
      val header = df.columns.mkString(",")
      val posToOrig = origIdxAtPos.zipWithIndex
        .map { case (o, p) => (p.toLong, o.toLong) }.toDF("col_idx", "oidx")
      val reuse = Profiler.profile(df, s"part_aug$id", withQuantiles = false)
        .select(col("col_idx").cast("long").as("col_idx"), col("minhash_exact"))
        .join(broadcast(posToOrig), "col_idx")
        .join(broadcast(d0), "oidx")
        .agg(sum(when(col("minhash_exact") === col("dig0"), 1L).otherwise(0L))
          .as("cols_reuse"))
      graft.ingest.Augment.contentHash(df)
        .select(lit(id.toLong).as("aug_id"), lit(header).as("header"),
          col("content_hash"), col("rows").as("n_rows"))
        .crossJoin(reuse)
    }.reduce(_ unionByName _).orderBy("aug_id")
  }

  /** a_augment_hashes: recompute each augmentation's content hash with the
    * SAME deterministic column order/header the engine used —
    * `Augment.lehmerPerm` is shared between the engine and this SQL
    * generator, so the permutation is a cross-engine constant, not RNG
    * state. `cols_reuse` is pinned at full width: per-column value digests
    * are order/name-independent by construction, and the Spark side must
    * PROVE it by recomputing and joining digests across augs. */
  private def augmentHashesSql: String = {
    val cols = lakeSchemas("part").map(_._1)
    val n = cols.length
    def one(aug: Int, order: Seq[Int], names: Seq[String]) = {
      val rendered = order.map(i => s"coalesce(CAST(${cols(i)} AS VARCHAR), chr(2))")
      val header = names.mkString(",")
      s"""SELECT CAST($aug AS BIGINT) AS aug_id, '$header' AS header,
         |  CAST(SUM(CAST(md5_number_lower(rs) AS HUGEINT)) + CAST(md5_number_lower('$header') AS HUGEINT) AS VARCHAR) AS content_hash,
         |  count(*) AS n_rows, CAST($n AS BIGINT) AS cols_reuse
         |FROM (SELECT concat_ws(chr(1), ${rendered.mkString(", ")}) AS rs FROM part)""".stripMargin
    }
    val perm = graft.ingest.Augment.lehmerPerm(n, 2)
    Seq(one(0, 0 until n, cols),
      one(1, 0 until n, (0 until n).map("col" + _)),
      one(2, perm, perm.map(cols)))
      .mkString("", "\nUNION ALL\n", "\nORDER BY aug_id")
  }

  /** M4: pair similarity features over the profile catalog. */
  private def pairFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "orders", "nation", "region", "part"))
    // the two (t, t) rows are Q8 self-pairs — the reference scores a table
    // against itself as the similarity sanity row; features must come out
    // at their fixed points (jaccard/name/type all 1.0), which the oracle
    // recomputes rather than assumes
    val pairs = Seq(("customer", "orders"), ("customer", "supplier"),
      ("nation", "region"), ("part", "supplier"), ("orders", "supplier"),
      ("nation", "nation"), ("region", "region"))
      .toDF("table1", "table2")
    graft.ml.PairScoring.pairFeatures(pairs, profiles).orderBy("table1", "table2")
  }

  /** m4_pair_features: table-pair similarity features from the capped
    * catalog digests (mirrors PairScoring.pairFeatures). */
  private def pairFeaturesSql: String = {
    val tables = Seq("customer", "supplier", "orders", "nation", "region", "part")
    val pairs = Seq(("customer", "orders"), ("customer", "supplier"),
      ("nation", "region"), ("part", "supplier"), ("orders", "supplier"),
      ("nation", "nation"), ("region", "region")) // Q8 self-pairs
      .map { case (a, b) => s"('$a','$b')" }.mkString(",")
    val jac = (da: String, db: String) =>
      s"CAST(len([i FOR i IN range(1, 101) IF $da[i] = $db[i]]) AS DOUBLE) / 100.0"
    def nameToks(cn: String) = s"list_distinct(string_split_regex(lower($cn), '[_\\s]+'))"
    s"""WITH $permsCte,
       |${valsCte(tables, Some(10000))},
       |${metaCte(tables)},
       |$digestCtes,
       |cols AS (
       |  SELECT meta.t, meta.ci, meta.cn, meta.ct, edig.d AS ed, wdig.d AS wd
       |  FROM meta JOIN edig USING (t, ci) LEFT JOIN wdig USING (t, ci)),
       |prs AS (SELECT * FROM (VALUES $pairs) _r(table1, table2)),
       |aligned AS (
       |  SELECT p.table1, p.table2, a.ci AS ci1, b.ci AS ci2,
       |    ${jac("a.ed", "b.ed")} AS j_exact,
       |    CASE WHEN a.wd IS NOT NULL AND b.wd IS NOT NULL
       |         THEN ${jac("a.wd", "b.wd")} END AS j_words,
       |    CASE WHEN len(list_distinct(list_concat(${nameToks("a.cn")}, ${nameToks("b.cn")}))) = 0 THEN 1.0
       |         ELSE CAST(len(list_intersect(${nameToks("a.cn")}, ${nameToks("b.cn")})) AS DOUBLE)
       |              / len(list_distinct(list_concat(${nameToks("a.cn")}, ${nameToks("b.cn")}))) END AS name_sim,
       |    CASE WHEN a.ct = b.ct THEN 1.0 ELSE 0.0 END AS type_match
       |  FROM prs p JOIN cols a ON a.t = p.table1 JOIN cols b ON b.t = p.table2)
       |SELECT table1, table2,
       |  round(max(j_exact), 6) AS max_j_exact,
       |  round(CAST(SUM(CAST(j_exact AS DECIMAL(20,10))) AS DOUBLE) / count(j_exact), 6) AS mean_j_exact,
       |  round(max(coalesce(j_words, 0.0)), 6) AS max_j_words,
       |  round(max(name_sim), 6) AS max_name_sim,
       |  round(avg(type_match), 6) AS type_agreement,
       |  count(DISTINCT ci1) AS n_cols_1, count(DISTINCT ci2) AS n_cols_2,
       |  round(CAST(least(count(DISTINCT ci1), count(DISTINCT ci2)) AS DOUBLE)
       |        / greatest(count(DISTINCT ci1), count(DISTINCT ci2)), 6) AS col_ratio
       |FROM aligned GROUP BY table1, table2
       |ORDER BY table1, table2""".stripMargin
  }

  /** T1+T4: tokenizer-layer tensors (stats + minhash channels), rendered
    * as DECIMAL(28,6)-joined strings — deterministic across engines (a
    * shortest-repr double print would diverge on tiny z-scores), and the
    * full 256-wide vectors stay exactly verifiable by the oracle.
    */
  private def featureTensors(s: SparkSession, dir: String): DataFrame = {
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "nation", "region"))
    def decStr(c: Column) =
      array_join(transform(c, x => x.cast(DecimalType(28, 6)).cast("string")), ",")
    graft.ml.FeatureAssembly.columnTensors(profiles, width = 256)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        decStr(col("stats_vec")).as("stats_vec_str"),
        decStr(col("minhash_vec")).as("mh_vec_str"))
      .orderBy("table_name", "col_idx")
  }

  /** t1_feature_tensors: per-column stats + minhash tensors of customer/
    * nation/region, rendered as DECIMAL(28,6)-joined strings. The z-score
    * mirrors FeatureAssembly.zscoreUdf's exact FP expression tree:
    * μ = (x1+…+x16)/256 (pad zeros add exactly nothing), variance =
    * Σ(xi−μ)² + (240·μ)·μ (closed-form pad term), σ = √(s2/256).
    */
  private def featureTensorsSql: String = {
    val tables = Seq("customer", "nation", "region")
    val width = 256
    val head = 16
    // numeric long-format values for the quantile branch
    val nvalSelects = tables.flatMap { tbl =>
      lakeSchemas(tbl).zipWithIndex.collect {
        case ((c, lt), i) if lt == "integer" || lt == "float" =>
          // capped like every other catalog branch — customer exceeds the
          // cap from sf0.1 up, and the Spark side profiles capped reads
          s"SELECT '$tbl' AS t, $i AS ci, CAST($c AS DOUBLE) AS nv FROM ${cappedSrc(tbl, 10000)}"
      }
    }
    val qCols = (1 to 9).map(i => s"quantile_cont(nv, 0.$i) AS q$i").mkString(", ")
    val meanE = "CAST(SUM(CAST(nv AS DECIMAL(18,2))) AS DOUBLE) / count(nv)"
    val raw =
      (Seq("CAST(n_unique AS DOUBLE)", "CAST(num_nan AS DOUBLE)",
        "coalesce(CASE WHEN ct = 'string' THEN cw END, 1.0)") ++
        (1 to 9).map(i => s"CASE WHEN qok THEN q$i ELSE 0.0 END") ++
        Seq("CASE WHEN qok THEN mean_e ELSE 0.0 END",
          "CASE WHEN qok AND n_unique > 2 THEN std_e ELSE 0.0 END",
          "CASE WHEN qok THEN mn ELSE 0.0 END",
          "CASE WHEN qok THEN mx ELSE 0.0 END"))
        .zipWithIndex.map { case (e, i) => s"$e AS x${i + 1}" }
    val xs = (1 to head).map(i => s"x$i")
    val muExpr = s"(${xs.mkString(" + ")}) / $width.0"
    val s2Expr = xs.map(x => s"($x - mu) * ($x - mu)").mkString(" + ") +
      s" + (($width - $head) * mu) * mu"
    val zList = xs.map(x => s"CAST(($x - mu) / sd AS DECIMAL(28,6))").mkString(", ")
    val zerosTail = (n: Int) => s"repeat(',0.000000', $n)"
    val mhToDec = (d: String) =>
      s"array_to_string(list_transform($d, _h -> CAST(CAST(_h AS DOUBLE) / 100000000.0 AS DECIMAL(28,6))), ',')"
    s"""WITH $permsCte,
       |${valsCte(tables, Some(10000))},
       |${metaCte(tables)},
       |${statsCte(roundCw = false)},
       |nvals AS (
       |  ${nvalSelects.mkString("\n  UNION ALL ")}
       |),
       |q0 AS (
       |  SELECT t, ci, $qCols, $meanE AS mean_e,
       |    sqrt(greatest(CAST(SUM(CAST(nv AS DECIMAL(18,2)) * CAST(nv AS DECIMAL(18,2))) AS DOUBLE) / count(nv)
       |      - ($meanE) * ($meanE), 0.0)) AS std_e,
       |    min(nv) AS mn, max(nv) AS mx
       |  FROM nvals GROUP BY t, ci),
       |$digestCtes,
       |raw0 AS (
       |  SELECT meta.t, meta.ci, meta.cn, meta.ct, edig.d AS ed, wdig.d AS wd,
       |    stats.n_rows, stats.num_nan, stats.n_unique, stats.cw,
       |    q0.q1, q0.q2, q0.q3, q0.q4, q0.q5, q0.q6, q0.q7, q0.q8, q0.q9,
       |    q0.mean_e, q0.std_e, q0.mn, q0.mx,
       |    (meta.ct IN ('integer', 'float') AND (stats.n_rows - stats.num_nan) > 1
       |      AND stats.n_unique > 1 AND q0.mean_e IS NOT NULL) AS qok
       |  FROM meta JOIN stats USING (t, ci)
       |  JOIN edig USING (t, ci) LEFT JOIN wdig USING (t, ci)
       |  LEFT JOIN q0 USING (t, ci)),
       |raw AS (
       |  SELECT t, ci, cn, ct, ed, wd,
       |    ${raw.mkString(",\n    ")}
       |  FROM raw0),
       |m1 AS (SELECT *, $muExpr AS mu FROM raw),
       |m2 AS (SELECT *, sqrt(($s2Expr) / $width.0) AS sd FROM m1)
       |SELECT t AS table_name, CAST(ci AS BIGINT) AS col_idx, cn AS col_name,
       |  ct AS col_type,
       |  CASE WHEN sd = 0 THEN '0.000000' || ${zerosTail(width - 1)}
       |       ELSE array_to_string([$zList], ',')
       |            || repeat(',' || CAST(CAST((-mu) / sd AS DECIMAL(28,6)) AS VARCHAR), ${width - head}) END AS stats_vec_str,
       |  ${mhToDec("ed")} || ',' ||
       |    CASE WHEN ct = 'string' AND wd IS NOT NULL THEN ${mhToDec("wd")}
       |         ELSE '0.000000' || ${zerosTail(99)} END
       |    || ${zerosTail(width - 200)} AS mh_vec_str
       |FROM m2 ORDER BY table_name, col_idx""".stripMargin
  }

  /** A14: hashing-trick alt sketch per column (md5 buckets — DuckDB
    * recomputes the sparse vector exactly). */
  private def hashingSketches(s: SparkSession, dir: String): DataFrame = {
    val values = Seq("nation", "region", "supplier").map { n =>
      Profiler.longFormat(t(s, dir, n)).withColumn("table_name", lit(n))
    }.reduce(_ unionByName _)
    graft.ml.FeatureAssembly.hashingSketch(values, nFeatures = 1024)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"), col("hv_str"))
      .orderBy("table_name", "col_idx")
  }

  /** a14_hashing_sketch: md5-bucket term-frequency vectors as sorted
    * sparse "bucket:count" strings (mirrors FeatureAssembly.hashingSketch,
    * nFeatures = 1024). */
  private def hashingSketchSql: String =
    s"""WITH ${valsCte(Seq("nation", "region", "supplier"), None)},
       |toks AS (
       |  SELECT t, ci, unnest(string_split_regex(v, '\\s+')) AS tok
       |  FROM vals WHERE v IS NOT NULL),
       |b AS (
       |  SELECT t, ci, bucket, count(*) AS cnt FROM (
       |    SELECT t, ci, CAST((md5_number_lower(tok) & 4294967295) % 1024 AS BIGINT) AS bucket
       |    FROM toks WHERE tok <> '')
       |  GROUP BY t, ci, bucket)
       |SELECT t AS table_name, CAST(ci AS BIGINT) AS col_idx,
       |  string_agg(bucket || ':' || cnt, ' ' ORDER BY bucket) AS hv_str
       |FROM b GROUP BY t, ci ORDER BY table_name, col_idx""".stripMargin

  /** Q5: whole-table near-duplicate search by content-snapshot Jaccard. */
  private def tableSearch(s: SparkSession, dir: String): DataFrame =
    Discovery.searchTables(lakeSnapshots(s, dir), "nation", k = 10)
      .select(col("cand_table"), round(col("jaccard"), 6).as("jaccard"))

  /** q5_table_search: top tables by content-snapshot slot agreement with
    * `nation` (mirrors Discovery.searchTables over the A13 snapshots). */
  private def tableSearchSql: String = {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents")
    s"""WITH $permsCte,
       |${snapshotDigestCtes(tables)}
       |SELECT c.t AS cand_table,
       |  round(CAST(len([i FOR i IN range(1, 101) IF q.d[i] = c.d[i]]) AS DOUBLE) / 100.0, 6) AS jaccard
       |FROM snapd c, snapd q WHERE q.t = 'nation' AND c.t <> 'nation'
       |ORDER BY jaccard DESC, cand_table LIMIT 10""".stripMargin
  }

  /** S7/S8 round-trip: profile catalog → bucketed parquet sketch store
    * → read back → same projection as `profile_sketches`. Green iff the
    * persisted digests survive the store bit-for-bit (the oracle
    * recomputes them from the raw tables). */
  private def sketchRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = "/tmp/graft_fixtures/sketch_store"
    graft.store.SketchStore.writeParquet(
      lakeCatalog(s, dir).filter(col("table_name").isin("region", "nation")), out)
    graft.store.SketchStore.readParquet(s, out)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        array_join(col("minhash_words"), ",").as("mh_words"))
      .orderBy("table_name", "col_idx")
  }

  private val SketchDocsPlainDir = "/tmp/graft_fixtures/sketch_docs_plain"

  /** S7 JSON-document parity round-trip: catalog → per-table JSON sketch
    * documents (the reference's `{hash}.json.bz2` layout, data_prep.py:
    * 150-163) → read the bzip2 files back with an explicit schema → explode
    * the per-column map. A plain-codec copy of the SAME docs is written for
    * the oracle, which parses it with DuckDB's JSON reader (structure
    * check: an inner join on parsed (table, column) keys drops rows if the
    * doc layout is wrong) while recomputing every projected value — stats,
    * both digests, the content snapshot — from the raw tables (content
    * check). Green iff format, bzip2 codec, and contents all survive. */
  private def jsonSketchRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val outBz = "/tmp/graft_fixtures/sketch_docs_bz2"
    val outPlain = SketchDocsPlainDir
    val profs = lakeCatalog(s, dir).filter(col("table_name").isin("region", "nation"))
    val snaps = lakeSnapshots(s, dir).filter(col("table_name").isin("region", "nation"))
    graft.store.SketchStore.writeJsonBz2(profs, snaps, outBz)
    graft.store.SketchStore.writeJsonBz2(profs, snaps, outPlain, codec = "none")
    val colSchema = StructType(Seq(
      StructField("name", StringType), StructField("type", StringType),
      StructField("num_nan", LongType), StructField("unique", LongType),
      StructField("cell_width_bytes", DoubleType),
      StructField("quantile", ArrayType(DoubleType)),
      StructField("min-hash-exact", ArrayType(LongType)),
      StructField("min-hash-words", ArrayType(LongType))))
    val docSchema = StructType(Seq(
      StructField("table_metadata", StructType(Seq(
        StructField("file_name", StringType), StructField("rows", LongType)))),
      StructField("columns", MapType(StringType, colSchema)),
      StructField("content_snapshot", ArrayType(LongType))))
    s.read.schema(docSchema).json(outBz)
      .select(col("table_metadata.file_name").as("table_name"),
        col("table_metadata.rows").as("n_rows"),
        // ACTUAL key count of the written doc's columns map — the oracle
        // side emits the EXPECTED per-table column count from its schema
        // literals, so a column omitted from the document (which the
        // explode below would silently drop) breaks the hash compare.
        size(col("columns")).cast("long").as("n_doc_cols"),
        col("content_snapshot"),
        explode(col("columns")).as(Seq("col_name", "c")))
      .select(col("table_name"), col("col_name"), col("n_doc_cols"),
        col("c.type").as("col_type"), col("n_rows"),
        col("c.num_nan").as("num_nan"), col("c.unique").as("n_unique"),
        round(col("c.cell_width_bytes"), 6).as("cell_width_r"),
        array_join(col("c.`min-hash-exact`"), ",").as("mh_exact"),
        array_join(col("c.`min-hash-words`"), ",").as("mh_words"),
        array_join(col("content_snapshot"), ",").as("snapshot"))
      .orderBy("table_name", "col_name")
  }

  /** s7_json_roundtrip: DuckDB parses the plain-codec sketch documents with
    * its own JSON reader (structure check — the inner join on parsed
    * (table, column) keys drops rows if the document layout is wrong) while
    * every projected value — stats, both digests, the content snapshot — is
    * recomputed from the raw tables (content check). The Spark side reads
    * the same documents back from the bzip2 files, so the compare verifies
    * writer format, codec, and contents end-to-end. */
  private def jsonRoundtripSql: String = {
    val tables = Seq("region", "nation")
    s"""WITH $permsCte,
       |${valsCte(tables, Some(10000))},
       |${metaCte(tables)},
       |${statsCte()},
       |$digestCtes,
       |${snapshotDigestCtes(tables)},
       |docs AS (SELECT * FROM read_json('$SketchDocsPlainDir/*.json',
       |  format='newline_delimited',
       |  columns={'table_metadata': 'JSON', 'columns': 'JSON', 'content_snapshot': 'JSON'})),
       |dcols AS (
       |  SELECT json_extract_string(d.table_metadata, '$$.file_name') AS t,
       |         unnest(json_keys(d.columns)) AS cn
       |  FROM docs d),
       |-- EXPECTED per-table column count, from the schema literals (the
       |-- Spark side reports the ACTUAL key count of the written doc, so a
       |-- column missing from the document — invisible to the inner join
       |-- below — surfaces as a count mismatch)
       |ccnt AS (SELECT t, count(*) AS n_doc_cols FROM meta GROUP BY t)
       |SELECT meta.t AS table_name, meta.cn AS col_name, meta.ct AS col_type,
       |  ccnt.n_doc_cols,
       |  stats.n_rows, stats.num_nan, stats.n_unique,
       |  CASE WHEN meta.ct = 'string' THEN stats.cw END AS cell_width_r,
       |  array_to_string(edig.d, ',') AS mh_exact,
       |  CASE WHEN meta.ct = 'string' THEN array_to_string(wdig.d, ',') END AS mh_words,
       |  array_to_string(snapd.d, ',') AS snapshot
       |FROM meta JOIN stats USING (t, ci) JOIN edig USING (t, ci)
       |LEFT JOIN wdig USING (t, ci)
       |JOIN snapd ON snapd.t = meta.t
       |JOIN ccnt ON ccnt.t = meta.t
       |JOIN dcols ON dcols.t = meta.t AND dcols.cn = meta.cn
       |ORDER BY table_name, col_name""".stripMargin
  }

  /** J2 anti-join diagnostic: pairs naming tables ABSENT from the profile
    * catalog surface in the missing report (and resolvable pairs do not).
    */
  private def missingPairsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Seq(("customer", "orders"), ("nation", "atlantis"),
      ("gondor", "region")).toDF("table1", "table2")
    graft.ml.PairScoring.missingPairs(pairs, lakeCatalog(s, dir))
      .select("table1", "table2").orderBy("table1", "table2")
  }

  /** j2_missing_pairs: anti-join diagnostic replayed over the known lake
    * table list. */
  private def missingPairsSql: String = {
    val tabs = LakeTables.map(t => s"('$t')").mkString(",")
    s"""WITH pairs(table1, table2) AS (VALUES
       |  ('customer','orders'), ('nation','atlantis'), ('gondor','region')),
       |tabs(t) AS (VALUES $tabs)
       |SELECT table1, table2 FROM pairs
       |WHERE table1 NOT IN (SELECT t FROM tabs)
       |   OR table2 NOT IN (SELECT t FROM tabs)
       |ORDER BY table1, table2""".stripMargin
  }

  /** O6 canonical column order: rank of each column under the sorted-name
    * order the tokenizer feeds the model (`tabular_tokenizer.py:291`). */
  private def canonicalOrderQ(s: SparkSession, dir: String): DataFrame =
    graft.ml.TokenizerOps.canonicalColumns(
      lakeCatalog(s, dir).filter(col("table_name").isin("customer", "orders", "part")))
      .select(col("table_name"), col("col_name"),
        row_number().over(Window.partitionBy("table_name").orderBy("col_name"))
          .cast("long").as("canon_pos"))
      .orderBy("table_name", "canon_pos")

  // O6: expected canonical positions generated from the lake schema
  // literals (same source the other profile oracles pin against).
  private def canonicalOrderSql: String = {
    val rows = Seq("customer", "orders", "part").flatMap { t =>
      lakeSchemas(t).map(_._1).sorted.zipWithIndex.map {
        case (c, i) => s"('$t', '$c', ${i + 1})"
      }
    }.mkString(",\n  ")
    s"""SELECT table_name, col_name, CAST(canon_pos AS BIGINT) AS canon_pos
       |FROM (VALUES
       |  $rows) v(table_name, col_name, canon_pos)
       |ORDER BY table_name, canon_pos""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("a_profile_stats", numericProfile, profileStatsSql),
    QuerySpec("a4_quantiles", quantileProfile, quantileSql),
    QuerySpec("j5_exact_jaccard", exactJaccardPairs, exactJaccardPairsSql),
    QuerySpec("o4_search_exact", searchExact, searchExactSql),
    QuerySpec("profile_sketches", profileSketches, profileSketchesSql),
    QuerySpec("lake_profile_unified", lakeProfileUnifiedQ, lakeProfileUnifiedSql),
    QuerySpec("lake_csv_unified", lakeCsvUnifiedQ, lakeCsvUnifiedSql),
    // same semantics as o4_search_minhash — the e2e row additionally
    // routes the catalog through a store round-trip before searching
    QuerySpec("e2e_lake_search", e2eLakeSearch, searchMinhashSql),
    QuerySpec("content_snapshots", contentSnapshots, contentSnapshotsSql),
    QuerySpec("o4_search_minhash", searchMinhash, searchMinhashSql),
    QuerySpec("o4_search_subset", searchSubsetQ, searchSubsetSql),
    QuerySpec("j5_minhash_pairs", minhashJaccardPairs, minhashPairsSql),
    QuerySpec("type_inference", typeInference, typeInferenceSql),
    QuerySpec("a16_value_heads", valueHeads, valueHeadsSql),
    QuerySpec("a9_corr_probe", corrProbe, corrProbeSql),
    QuerySpec("a15_content_hash", contentHashes, contentHashSql),
    QuerySpec("a_augment_hashes", augmentHashes, augmentHashesSql),
    QuerySpec("m4_pair_features", pairFeatures, pairFeaturesSql),
    QuerySpec("t1_feature_tensors", featureTensors, featureTensorsSql),
    QuerySpec("a14_hashing_sketch", hashingSketches, hashingSketchSql),
    QuerySpec("q5_table_search", tableSearch, tableSearchSql),
    QuerySpec("s7s8_sketch_roundtrip", sketchRoundtrip,
      profileSketchesSqlFor(Seq("region", "nation"))),
    QuerySpec("s7_json_roundtrip", jsonSketchRoundtrip, jsonRoundtripSql),
    QuerySpec("j2_missing_pairs", missingPairsQ, missingPairsSql),
    QuerySpec("o6_canonical_order", canonicalOrderQ, canonicalOrderSql))
}
