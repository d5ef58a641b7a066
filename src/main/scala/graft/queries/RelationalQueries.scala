package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.functions.DateFunctions._

import Shared._

/** Relational scans, joins, windows and grouping: TPC-H-style plans
  * whose oracles are plain DuckDB SQL over the same lake tables. */
object RelationalQueries {

  // top-100 by the FULL cap key: (l_orderkey, l_linenumber) alone is not
  // unique in the sampled-with-replacement lineitem, and a tie on the
  // limit boundary would make the selected rows engine-dependent
  private def scanTopN(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
    .orderBy(graft.sources.Lake.TableKeys("lineitem").map(col): _*).limit(100)

  private def scanTopNSql: String =
    s"SELECT * FROM lineitem ORDER BY ${graft.sources.Lake.TableKeys("lineitem").mkString(", ")} LIMIT 100"

  private def filterProject(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
    .filter(col("l_shipdate") >= lit("1995-06-01") && col("l_shipdate") < lit("1995-07-01")
      && col("l_discount") > 0.05)
    .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
    .orderBy("l_orderkey", "l_linenumber")

  private def filterProjectSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
      |WHERE l_shipdate >= '1995-06-01' AND l_shipdate < '1995-07-01' AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(avg(l_extendedprice), 6) AS avg_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def q3TopRevenueSql: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  private def starJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy("r_name")

  private def starJoinSql: String =
    """SELECT r_name, count(*) AS n_orders, count(DISTINCT c_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  private def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }

  private def topkWindowSql: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin

  private def runningAgg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem").filter(col("l_suppkey") <= 20)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec(col("l_quantity"))).over(w).cast("double").as("running_qty"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  private def runningAggSql: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem WHERE l_suppkey <= 20
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  /** §2.8 time-RANGE sliding window: per user, events and decimal-exact
    * value sum over the trailing hour (RANGE frame on epoch seconds —
    * peers by time value, not row position).
    */
  private def rangeWindowQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events").filter(col("user_id") < 20)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        sum(dec(col("value"))).over(w).cast("double").as("v_last_hour"))
      .orderBy("user_id", "event_id")
  }

  // w_range_window: RANGE frame on integer epoch seconds; decimal
  // sums so the sliding aggregation is FP-order-free.
  private def rangeWindowSql: String =
    """WITH e AS (SELECT user_id, event_id, value,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS es
      |           FROM events WHERE user_id < 20)
      |SELECT user_id, event_id,
      |  count(*) OVER w AS n_last_hour,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS v_last_hour
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY es
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("k")).distinct()
    val su = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("k")).distinct()
    val mk = (op: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    mk("except", c.except(su))
      .unionByName(mk("intersect", c.intersect(su)))
      .unionByName(mk("union", c.union(su).distinct()))
      .orderBy("op")
  }

  private def setOpsSql: String =
    """SELECT 'except' AS op, count(*) AS n FROM (
      |  SELECT DISTINCT CAST(c_nationkey AS INT) AS k FROM customer
      |  EXCEPT SELECT DISTINCT CAST(s_nationkey AS INT) AS k FROM supplier)
      |UNION ALL
      |SELECT 'intersect' AS op, count(*) AS n FROM (
      |  SELECT DISTINCT CAST(c_nationkey AS INT) AS k FROM customer
      |  INTERSECT SELECT DISTINCT CAST(s_nationkey AS INT) AS k FROM supplier)
      |UNION ALL
      |SELECT 'union' AS op, count(*) AS n FROM (
      |  SELECT DISTINCT CAST(c_nationkey AS INT) AS k FROM customer
      |  UNION SELECT DISTINCT CAST(s_nationkey AS INT) AS k FROM supplier)
      |ORDER BY op""".stripMargin

  private def lenientDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"),
        lenient_date_parse(date_format(col("o_orderdate"), "MM/dd/yyyy")).as("parsed"))
      .orderBy("o_orderkey")

  private def lenientDatesSql: String =
    """SELECT o_orderkey, strptime(strftime(o_orderdate, '%m/%d/%Y'), '%m/%d/%Y') AS parsed
      |FROM orders WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin

  private def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private def jsonExtractSql: String =
    """SELECT event_type, CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Z-order layout: Morton-interleaved (c_custkey, c_acctbal) z-values
    * — exact integer quantize→scale→interleave on both engines; bucket
    * counts + key checksums pin every row's position on the curve. The
    * write path (`Layout.zorderWrite`) range-partitions this exact
    * column, spec'd for file-pruning effect in `LayoutSpec`.
    */
  private def zorderQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.withZValue(
      t(s, dir, "customer"), Seq("c_custkey", "c_acctbal"), bitsPerDim = 8)
      .groupBy(shiftright(col("__z"), 10).as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_custkey")).cast("long").as("key_checksum"))
      .orderBy("z_bucket")

  /** x_zorder: replay quantize → integer min/max scale → Morton bit
    * interleave (bit j of dim i at position j·k+i) → prefix buckets.
    */
  private def zorderSql: String = {
    val bits = 8
    val interleave = (for (i <- 0 to 1; j <- 0 until bits)
      yield s"(((s$i >> $j) & 1) << ${j * 2 + i})").mkString(" + ")
    s"""WITH q AS (
       |  SELECT c_custkey,
       |    CAST(floor(c_custkey * 1e6) AS BIGINT) AS q0,
       |    CAST(floor(CAST(c_acctbal AS DOUBLE) * 1e6) AS BIGINT) AS q1
       |  FROM customer),
       |bnd AS (SELECT min(q0) mn0, max(q0) mx0, min(q1) mn1, max(q1) mx1 FROM q),
       |s AS (
       |  SELECT c_custkey,
       |    CASE WHEN mx0 = mn0 THEN 0 ELSE ((q0 - mn0) * 255) // (mx0 - mn0) END AS s0,
       |    CASE WHEN mx1 = mn1 THEN 0 ELSE ((q1 - mn1) * 255) // (mx1 - mn1) END AS s1
       |  FROM q, bnd),
       |z AS (SELECT c_custkey, $interleave AS zv FROM s)
       |SELECT zv >> 10 AS z_bucket, count(*) AS n_rows,
       |  CAST(sum(c_custkey) AS BIGINT) AS key_checksum
       |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin
  }

  /** MERGE upsert ([[graft.operators.Merge.upsert]]): even-id events
    * compact to the keyed target snapshot; odd-id events form the
    * changelog (delete when event_id % 7 == 0); per-type checksums pin
    * the exact merged state. */
  private def mergeUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value").cast("double").as("value"))
    val target = ev.filter(col("event_id") % 2 === 0)
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("event_type"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"), col("__m.value").as("value"))
    val changes = ev.filter(col("event_id") % 2 === 1)
      .withColumn("op",
        when(col("event_id") % 7 === 0, lit("delete")).otherwise(lit("upsert")))
    val merged = graft.operators.Merge.upsert(target, changes,
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
    merged.groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("user_id")).as("user_checksum"),
        sum(col("event_id")).as("event_checksum"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  /** x_merge_upsert: replay the changelog compaction (rank window ≡ the
    * struct-max), the full-outer MERGE resolution, and the per-type
    * checksums of the merged state. */
  private def mergeUpsertSql: String =
    """WITH ev AS (SELECT user_id, event_type, ts, event_id, CAST(value AS DOUBLE) AS value FROM events),
      |tgt AS (
      |  SELECT user_id, event_type, ts, event_id, value FROM ev WHERE event_id % 2 = 0
      |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1),
      |chg AS (
      |  SELECT user_id, event_type, ts, event_id, value,
      |    CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'upsert' END AS op
      |  FROM ev WHERE event_id % 2 = 1
      |  QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1),
      |mg AS (
      |  SELECT coalesce(t.user_id, c.user_id) AS user_id,
      |         coalesce(t.event_type, c.event_type) AS event_type,
      |         CASE WHEN c.op IS NOT NULL THEN c.event_id ELSE t.event_id END AS event_id,
      |         CASE WHEN c.op IS NOT NULL THEN c.value ELSE t.value END AS value
      |  FROM tgt t FULL OUTER JOIN chg c
      |    ON t.user_id = c.user_id AND t.event_type = c.event_type
      |  WHERE c.op IS NULL OR c.op <> 'delete')
      |SELECT event_type, count(*) AS n_keys,
      |  CAST(sum(user_id) AS BIGINT) AS user_checksum,
      |  CAST(sum(event_id) AS BIGINT) AS event_checksum,
      |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM mg GROUP BY 1 ORDER BY 1""".stripMargin

  private def asofEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id")
    // right side unique per (user_id, ts): max value on exact-tie stamps
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
    graft.operators.AsOf.join(clicks, purchases,
      keyCols = Seq("user_id"), tsCol = "ts", payloadCols = Seq("purchase_value"))
      .select(col("event_id"), col("user_id"),
        round(col("asof_purchase_value"), 6).as("asof_purchase_value"))
      .orderBy("event_id")
  }

  private def asofEnrichSql: String =
    """WITH clicks AS (
      |  SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT c.event_id, c.user_id, round(p.pv, 6) AS asof_purchase_value
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY event_id""".stripMargin

  /** Engine extension: as-of join — each click enriched with the user's
    * latest prior purchase value (DuckDB's native ASOF JOIN verifies). */
  /** §2.6 reshaping: status × priority pivot matrix (explicit value
    * list, so the plan is static); absent combinations are 0. */
  private def pivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderstatus")

  // x_pivot: static conditional-count pivot, 0 for absent combos.
  private def pivotSql: String =
    """SELECT o_orderstatus,
      |  count(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
      |  count(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
      |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
      |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
      |  count(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** §2.6 reshaping: unpivot (melt) of three lineitem measures into
    * (metric, n, total) — totals summed as exact decimals, so no FP
    * summation order. */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        sum(col("val").cast("decimal(18,4)")).cast("double").as("total"))
      .orderBy("metric")

  // x_unpivot: melt three measures; totals as exact DECIMAL sums cast
  // back to DOUBLE (no FP summation order).
  private def unpivotSql: String =
    """WITH m AS (
      |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem)
      |SELECT metric, count(*) AS n,
      |  CAST(sum(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM m GROUP BY metric ORDER BY metric""".stripMargin

  /** Engine extension: range join — customers whose balance falls in each
    * supplier's [s_acctbal, s_acctbal+100] bracket, via bucketized
    * equi-join (no cross-product nested loop). */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val custs = t(s, dir, "customer").select("c_custkey", "c_acctbal")
    val brackets = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("lo"),
        (col("s_acctbal") + 100.0).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
      custs, "c_acctbal", brackets, "lo", "hi", bucketWidth = 100.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_custkey")).cast("long").as("cust_checksum"))
      .orderBy("s_suppkey")
  }

  private def rangeJoinSql: String =
    """SELECT s.s_suppkey, count(*) AS n_customers,
      |  CAST(sum(c.c_custkey) AS BIGINT) AS cust_checksum
      |FROM supplier s JOIN customer c
      |  ON c.c_acctbal >= s.s_acctbal AND c.c_acctbal <= s.s_acctbal + 100.0
      |GROUP BY s.s_suppkey ORDER BY s_suppkey""".stripMargin

  /** Engine extension: interval-overlap join — customer [acctbal,
    * acctbal+50] brackets intersecting supplier [acctbal, acctbal+100]
    * brackets, via the bucketized equi-join with left-edge dedup (no
    * cross product, no distinct). */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val custs = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").as("c_lo"),
        (col("c_acctbal") + 50.0).as("c_hi"))
    val sups = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("s_lo"),
        (col("s_acctbal") + 100.0).as("s_hi"))
    graft.operators.RangeJoin.intervalOverlap(
      custs, "c_lo", "c_hi", sups, "s_lo", "s_hi", bucketWidth = 200.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("c_custkey")).cast("long").as("cust_checksum"))
      .orderBy("s_suppkey")
  }

  private def intervalOverlapSql: String =
    """SELECT s.s_suppkey, count(*) AS n_overlaps,
      |  CAST(sum(c.c_custkey) AS BIGINT) AS cust_checksum
      |FROM supplier s JOIN customer c
      |  ON c.c_acctbal <= s.s_acctbal + 100.0
      | AND s.s_acctbal <= c.c_acctbal + 50.0
      |GROUP BY s.s_suppkey ORDER BY s_suppkey""".stripMargin

  /** §4 skew tactics as a QUERY: the lineitem→orders equi-join run
    * through `Skew.saltedJoin` (hot keys spread over 8 salt buckets),
    * aggregated per priority. The oracle is the PLAIN join — the whole
    * point is that salting is result-invisible. */
  private def saltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ords = t(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(li, ords, "okey", factor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy("o_orderpriority")
  }

  // x_salted_join: the oracle is the PLAIN equi-join — salting must be
  // result-invisible.
  private def saltedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Engine extensions beyond the reference: multi-level aggregation. */
  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  private def rollupAggSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** §2.6 multidim aggregate: full CUBE over (priority, status). */
  private def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  private def cubeAggSql: String =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** §2.8 window-function suite: lag/lead on the time axis, ntile /
    * percent_rank / cume_dist on the value axis, per user — every
    * ordering is total (ties broken by event_id), so ranks are
    * engine-exact.
    */
  private def windowSuiteQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").filter(col("user_id") < 20)
      .select("user_id", "event_id", "ts", "value")
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("value"),
      lag(col("value"), 1).over(byTime).as("prev_v"),
      lead(col("value"), 1).over(byTime).as("next_v"),
      ntile(4).over(byValue).cast("long").as("tile4"),
      round(percent_rank().over(byValue), 6).as("pct_rank"),
      round(cume_dist().over(byValue), 6).as("cume"))
      .orderBy("user_id", "event_id")
  }

  // w_window_suite: every ordering totalized by event_id, so
  // lag/lead/ntile/percent_rank/cume_dist are engine-exact.
  private def windowSuiteSql: String =
    """SELECT user_id, event_id, value,
      |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
      |  lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_v,
      |  CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS BIGINT) AS tile4,
      |  round(percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id), 6) AS pct_rank,
      |  round(cume_dist() OVER (PARTITION BY user_id ORDER BY value, event_id), 6) AS cume
      |FROM events WHERE user_id < 20
      |ORDER BY user_id, event_id""".stripMargin

  private def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    val semi = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("semi").as("kind"), col("n"))
    val anti = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("anti").as("kind"), col("n"))
    semi.unionByName(anti).orderBy("kind")
  }

  private def semiAntiJoinSql: String =
    """SELECT 'anti' AS kind, count(*) AS n FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem
      |                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |UNION ALL
      |SELECT 'semi' AS kind, count(*) AS n FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |ORDER BY kind""".stripMargin

  /** §2.8 GROUPING SETS: the explicit multi-granularity aggregate
    * (finest, one-dim, grand total) with per-column grouping flags —
    * rollup/cube's general form, decimal-exact sums.
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")

  /** x_grouping_sets: explicit multi-granularity aggregate with
    * per-column grouping flags. */
  private def groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin

  /** Revenue share per nation: decimal-exact revenue, one broadcast
    * total, 6-dp shares — the percent-of-total report without a global
    * window.
    */
  private def revenueShareQ(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      // decimal-space discount product (the q1_agg discipline): cast
      // operands FIRST so the multiply is exact, not a rounded double
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .as("revenue"))
    val tot = rev.agg(sum(col("revenue")).as("__t"))
    rev.crossJoin(broadcast(tot))
      // divide in DOUBLE, not decimal: decimal-division result scales
      // are engine-specific; double-from-decimal conversion is not
      .select(col("n_name"), col("revenue").cast("double").as("revenue"),
        round(col("revenue").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
      .orderBy(col("n_name"))
  }

  /** j_revenue_share: per-nation decimal revenue with double-space
    * shares against the broadcast total. */
  private def revenueShareSql: String =
    """WITH rev AS (SELECT n_name,
      |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS revenue
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY 1),
      |tot AS (SELECT sum(revenue) AS t FROM rev)
      |SELECT n_name, CAST(revenue AS DOUBLE) AS revenue,
      |  round(CAST(revenue AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS share
      |FROM rev, tot ORDER BY n_name""".stripMargin

  /** Per-returnflag OLS of price-cents on quantity
    * ([[graft.profile.Regression.groupedOls]]) — exact integer moments.
    */
  private def groupedOlsQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Regression.groupedOls(t(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("group")

  /** x_groupby_ols: per-group OLS from the same exact integer moments
    * (n·Σy² taken in double — it alone exceeds long range). */
  private def groupedOlsSql: String =
    """WITH b AS (SELECT l_returnflag AS grp,
      |    CAST(round(l_quantity, 0) AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
      |  FROM lineitem),
      |a AS (SELECT grp, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM b GROUP BY 1)
      |SELECT grp AS "group", n,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
      |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
      |            / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
      |       ELSE round((CAST(sy AS DOUBLE)
      |            - CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) END AS intercept,
      |  CASE WHEN n * sxx - sx * sx = 0
      |         OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0 THEN 0.0
      |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |            / (CAST(n * sxx - sx * sx AS DOUBLE)
      |               * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) END AS r2
      |FROM a ORDER BY grp""".stripMargin

  /** Changelog compaction: the LATEST row per (user, event_type) — the
    * SCD1 / upsert-view primitive. Shape matters: ONE struct-max
    * aggregation (ts then event_id orders the struct lexicographically),
    * not a row_number window — a single map-side-combining shuffle
    * replaces the sort-the-world pattern at 100 TB.
    */
  private def latestByKeyQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("event_type"),
        col("__m.ts").as("last_ts"), col("__m.event_id").as("last_event_id"),
        col("__m.value").cast("double").as("last_value"))
      .orderBy("user_id", "event_type")

  // x_latest_by_key: the compacted current-state view — latest row
  // per key by (ts, event_id), replayed with a rank window.
  private def latestByKeySql: String =
    """SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
      |  CAST(value AS DOUBLE) AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
      |  ORDER BY ts DESC, event_id DESC) = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Consistent-hash shard plan ([[graft.operators.Sharding]], 8 shards
    * × 16 vnodes over document ids): per-shard population + exact id
    * checksums — the stable-re-sharding layout primitive next to
    * `x_compaction_plan`. */
  private def shardPlanQ(s: SparkSession, dir: String): DataFrame = {
    val ring = graft.operators.Sharding.ring(s, nShards = 8, vnodesPerShard = 16)
    graft.operators.Sharding.assign(
        t(s, dir, "documents").select("doc_id"), "doc_id", ring)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("shard")
  }

  // exact replay of the next-fit-decreasing greedy fold (linear
  // recursion, the packSequences oracle discipline)
  // x_shard_plan: replay the consistent-hash ring — salted md5_low32
  // vnode/key positions, clockwise pick = argmin (pos − h) mod 2³²
  // with (shard, vnode) ties, per-shard counts + id checksums.
  private def shardPlanSql: String =
    """WITH ring AS (
      |  SELECT s.shard, v.vnode,
      |    CAST(md5_number_lower(s.shard || ':' || v.vnode || ':ring0') & 4294967295 AS BIGINT) AS pos
      |  FROM range(0, 8) s(shard), range(0, 16) v(vnode)),
      |keys AS (
      |  SELECT doc_id,
      |    CAST(md5_number_lower(doc_id || ':key0') & 4294967295 AS BIGINT) AS h
      |  FROM documents),
      |asg AS (
      |  SELECT doc_id, shard FROM (
      |    SELECT k.doc_id, r.shard,
      |      row_number() OVER (PARTITION BY k.doc_id
      |        ORDER BY (r.pos - k.h + 4294967296) % 4294967296, r.shard, r.vnode) AS rn
      |    FROM keys k CROSS JOIN ring r)
      |  WHERE rn = 1)
      |SELECT shard, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM asg GROUP BY shard ORDER BY shard""".stripMargin

  /** Small-file compaction plan over a synthetic per-source "file"
    * listing (docs as files, n_chars as bytes) —
    * [[graft.sources.Layout.compactionPlan]], next-fit-decreasing at
    * target 1000 / keep 400, aggregated per rewrite group. The oracle
    * replays the exact greedy fold with a linear recursive CTE.
    */
  private def compactionPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.compactionPlan(
        t(s, dir, "documents").select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", targetBytes = 1000L, keepBytes = 400L)
      .groupBy("part", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .orderBy("part", "bin")

  private def compactionPlanSql: String =
    """WITH RECURSIVE f AS (
      |  SELECT source AS part, doc_id AS id, n_chars AS b,
      |         row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents WHERE n_chars < 400),
      |rec AS (
      |  SELECT part, rn, id, b, CAST(0 AS BIGINT) AS bin,
      |         CAST(CASE WHEN 1000 - b > 0 THEN 1000 - b ELSE 0 END AS BIGINT) AS rem
      |  FROM f WHERE rn = 1
      |  UNION ALL
      |  SELECT f.part, f.rn, f.id, f.b,
      |    CASE WHEN f.b <= r.rem THEN r.bin ELSE r.bin + 1 END,
      |    CAST(CASE WHEN f.b <= r.rem THEN r.rem - f.b
      |         WHEN 1000 - f.b > 0 THEN 1000 - f.b ELSE 0 END AS BIGINT)
      |  FROM f JOIN rec r ON f.part = r.part AND f.rn = r.rn + 1),
      |allrows AS (
      |  SELECT part, bin, id, b FROM rec
      |  UNION ALL
      |  SELECT source, CAST(-1 AS BIGINT), doc_id, n_chars
      |  FROM documents WHERE n_chars >= 400)
      |SELECT part, bin, count(*) AS n_files, CAST(sum(b) AS BIGINT) AS bin_bytes,
      |  CAST(min(id) AS BIGINT) AS first_file, CAST(max(id) AS BIGINT) AS last_file
      |FROM allrows GROUP BY 1, 2 ORDER BY part, bin""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("s1_scan_topn", scanTopN, scanTopNSql),
    QuerySpec("p2_filter_project", filterProject, filterProjectSql),
    QuerySpec("q1_agg", q1Agg, q1AggSql),
    QuerySpec("q3_top_revenue", q3TopRevenue, q3TopRevenueSql),
    QuerySpec("j_star_join", starJoin, starJoinSql),
    QuerySpec("o_topk_window", topkWindow, topkWindowSql),
    QuerySpec("w_running_agg", runningAgg, runningAggSql),
    QuerySpec("w_range_window", rangeWindowQ, rangeWindowSql),
    QuerySpec("set_ops", setOps, setOpsSql),
    QuerySpec("f_lenient_dates", lenientDates, lenientDatesSql),
    QuerySpec("f_json_extract", jsonExtract, jsonExtractSql),
    QuerySpec("x_zorder", zorderQ, zorderSql),
    QuerySpec("x_merge_upsert", mergeUpsertQ, mergeUpsertSql),
    QuerySpec("x_asof_join", asofEnrich, asofEnrichSql),
    QuerySpec("x_pivot", pivotQ, pivotSql),
    QuerySpec("x_unpivot", unpivotQ, unpivotSql),
    QuerySpec("x_range_join", rangeJoinQ, rangeJoinSql),
    QuerySpec("x_interval_overlap", intervalOverlapQ, intervalOverlapSql),
    QuerySpec("x_salted_join", saltedJoinQ, saltedJoinSql),
    QuerySpec("x_rollup_agg", rollupAgg, rollupAggSql),
    QuerySpec("x_cube_agg", cubeAgg, cubeAggSql),
    QuerySpec("w_window_suite", windowSuiteQ, windowSuiteSql),
    QuerySpec("x_semi_anti_join", semiAntiJoin, semiAntiJoinSql),
    QuerySpec("x_grouping_sets", groupingSetsQ, groupingSetsSql),
    QuerySpec("j_revenue_share", revenueShareQ, revenueShareSql),
    QuerySpec("x_groupby_ols", groupedOlsQ, groupedOlsSql),
    QuerySpec("x_latest_by_key", latestByKeyQ, latestByKeySql),
    QuerySpec("x_shard_plan", shardPlanQ, shardPlanSql),
    QuerySpec("x_compaction_plan", compactionPlanQ, compactionPlanSql))
}
