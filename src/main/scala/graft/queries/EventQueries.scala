package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Shared._

/** Event-log analytics over `events`: sessions, funnels, attribution,
  * retention and time-series statistics. */
object EventQueries {

  private def hourlyEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("value_sum"))
      .orderBy("event_type", "h")

  private def hourlyEventsSql: String =
    """SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY event_type, date_trunc('hour', ts)
      |ORDER BY event_type, h""".stripMargin

  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
      .orderBy("user_id")
  }

  private def sessionizeSql: String =
    """SELECT user_id, count(*) AS n_events, CAST(SUM(new_sess) AS BIGINT) AS n_sessions FROM (
      |  SELECT user_id,
      |    CASE WHEN prev_ts IS NULL
      |         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM (SELECT user_id, ts, event_id,
      |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events))
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Weekday seasonality profile per event type
    * ([[graft.operators.Events.weekdaySeasonality]]). */
  private def seasonalityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.weekdaySeasonality(t(s, dir, "events"))
      .orderBy("event_type", "dow")

  private def seasonalitySql: String =
    """WITH c AS (SELECT event_type, CAST(isodow(ts) - 1 AS BIGINT) AS dow,
      |  count(*) AS n FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type FROM c GROUP BY 1)
      |SELECT c.event_type, c.dow, c.n,
      |  CAST((c.n * 7 * 1000000) // t.n_type AS BIGINT) / 1000000.0 AS seasonality_idx
      |FROM c JOIN t USING (event_type) ORDER BY event_type, dow""".stripMargin

  /** Event analytics: ordered view→click→purchase funnel — each stage's
    * clock starts at the user's earliest completion of the previous
    * stage. */
  private def funnelQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.funnel(t(s, dir, "events"),
      Seq("view", "click", "purchase")).orderBy("step_idx")

  // e_funnel: staged min-ts chain — each stage joins the previous
  // stage's completion time and requires a strictly later event.
  private def funnelSql: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
      |       WHERE e.event_type = 'click' GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
      |       WHERE e.event_type = 'purchase' GROUP BY 1),
      |c AS (SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
      |      UNION ALL SELECT 2, 'click', count(*) FROM s2
      |      UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
      |SELECT step_idx, step, n_users,
      |  round(CAST(n_users AS DOUBLE)
      |    / CAST((SELECT n_users FROM c WHERE step_idx = 1) AS DOUBLE), 6) AS conv_total,
      |  round(CAST(n_users AS DOUBLE)
      |    / CAST(coalesce((SELECT c2.n_users FROM c c2 WHERE c2.step_idx = c.step_idx - 1),
      |                    n_users) AS DOUBLE), 6) AS conv_prev
      |FROM c ORDER BY step_idx""".stripMargin

  /** Event analytics: robust median/MAD outlier report (Hampel k=3) per
    * event_type over `value` — medians taken in exact integer cent
    * space, so interpolation is bitwise engine-identical.
    */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.madOutlierReport(
      t(s, dir, "events"), "value", Seq("event_type"))
      .orderBy("event_type")

  // e_mad_outliers: integer-cent medians (every interpolation an
  // exact multiple of 0.5 → bitwise engine parity), Hampel rule at
  // (3.0 * 1.4826) computed as the same double product Spark folds.
  private def madOutliersSql: String =
    """WITH q AS (SELECT event_type, CAST(round(value * 100.0) AS BIGINT) AS u FROM events),
      |med AS (SELECT event_type, quantile_cont(u, 0.5) AS med, count(*) AS n
      |        FROM q GROUP BY 1),
      |d AS (SELECT q.event_type, abs(CAST(u AS DOUBLE) - med) AS dev, med, n
      |      FROM q JOIN med USING (event_type)),
      |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad_u FROM d GROUP BY 1)
      |SELECT d.event_type, any_value(d.n) AS n,
      |  any_value(d.med) / 100.0 AS median,
      |  any_value(md.mad_u) / 100.0 AS mad,
      |  CAST(sum(CASE WHEN d.dev > (CAST(3.0 AS DOUBLE) * CAST(1.4826 AS DOUBLE)) * md.mad_u
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Event analytics: time-decayed engagement — per user
    * Σ value·2^(−age_days) (1-day half-life) as of the stream's end;
    * the one transcendental (pow) is 6-dp-rounded per event and terms
    * are integer-micro summed, so the ranking replays engine-exactly.
    * Top-20 users via TakeOrdered.
    */
  private def decayedEngagementQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("es", unix_timestamp(col("ts")))
    val maxE = ev.agg(max(col("es")).as("max_es"))
    ev.crossJoin(broadcast(maxE))
      .withColumn("decay",
        round(pow(lit(0.5), (col("max_es") - col("es")).cast("double") / lit(86400.0)), 6))
      .withColumn("tm", floor(col("value") * col("decay") * lit(1000000.0)).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("tm")).cast("double") / lit(1000000.0), 6).as("decayed_value"))
      .orderBy(col("decayed_value").desc, col("user_id"))
      .limit(20)
  }

  // e_decayed_engagement: 2^(-age_days) rounded 6 dp per event, terms
  // integer-micro summed; top-20 with (value DESC, user) tie-break.
  private def decayedEngagementSql: String =
    """WITH ev AS (SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |mx AS (SELECT max(es) AS max_es FROM ev),
      |t AS (SELECT user_id,
      |        CAST(floor(value * round(pow(0.5, CAST(mx.max_es - es AS DOUBLE) / 86400.0), 6)
      |                   * 1000000.0) AS BIGINT) AS tm
      |      FROM ev CROSS JOIN mx),
      |agg AS (SELECT user_id, count(*) AS n_events,
      |          round(CAST(sum(tm) AS DOUBLE) / 1000000.0, 6) AS decayed_value
      |        FROM t GROUP BY 1)
      |SELECT user_id, n_events, decayed_value FROM agg
      |ORDER BY decayed_value DESC, user_id LIMIT 20""".stripMargin

  /** Event analytics: weekly cohort retention matrix over the 30-day
    * event stream (5 ISO-week cohorts). */
  private def cohortRetentionQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.cohortRetention(t(s, dir, "events"))
      .orderBy("cohort_week", "week_offset")

  // e_cohort_retention: ISO-week cohorts; week offsets are exact
  // multiples of 7 days, so the /7 division is exact in both engines.
  private def cohortRetentionSql: String =
    """WITH fw AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      |            FROM events GROUP BY 1),
      |act AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w FROM events),
      |c AS (SELECT cohort_week, CAST((w - cohort_week) / 7 AS INTEGER) AS week_offset,
      |        count(*) AS n_active
      |      FROM act JOIN fw USING (user_id) GROUP BY 1, 2),
      |sz AS (SELECT cohort_week, n_active AS size FROM c WHERE week_offset = 0)
      |SELECT c.cohort_week, c.week_offset, c.n_active,
      |  round(CAST(c.n_active AS DOUBLE) / CAST(sz.size AS DOUBLE), 6) AS retention
      |FROM c JOIN sz USING (cohort_week)
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Event analytics: hourly LOCF resample of 8 users' value series —
    * grid via sequence(), carry via the as-of join (one key shuffle,
    * no range explosion). */
  private def resampleLocfQ(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events").filter(col("user_id") < 8)
      .groupBy("user_id", "ts").agg(max(col("value")).as("value"))
    graft.operators.Events.resampleLocf(obs, "user_id", "ts", "value")
      .select(col("user_id"), col("ts"),
        round(col("asof_value"), 6).as("asof_value"))
      .orderBy("user_id", "ts")
  }

  // e_resample_locf: hourly grid per user via generate_series, carry
  // via native ASOF LEFT JOIN (ties-at-grid-point count, >= semantics,
  // matching AsOf.join's right-before-left tag order).
  private def resampleLocfSql: String =
    """WITH obs AS (SELECT user_id, ts, max(value) AS value FROM events
      |             WHERE user_id < 8 GROUP BY 1, 2),
      |spans AS (SELECT user_id, date_trunc('hour', min(ts)) AS lo,
      |            date_trunc('hour', max(ts)) AS hi
      |          FROM obs GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
      |         FROM spans)
      |SELECT g.user_id, g.ts, round(o.value, 6) AS asof_value
      |FROM grid g ASOF LEFT JOIN obs o
      |  ON g.user_id = o.user_id AND g.ts >= o.ts
      |ORDER BY g.user_id, g.ts""".stripMargin

  /** Linear multi-touch attribution: each purchase's credit split
    * equally over the same user's clicks in the preceding hour, rolled
    * up by click hour-of-day ([[graft.operators.Events.linearAttribution]]).
    */
  private def multiTouchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.linearAttribution(t(s, dir, "events"))

  // e_multi_touch: linear attribution — each purchase's credit split
  // 1/n over the preceding hour's same-user clicks, shares rounded to
  // 6 dp and summed as exact DECIMAL(18,6), rolled up by click hour.
  private def multiTouchSql: String =
    """WITH t AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      |c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      |pairs AS (
      |  SELECT t.ts AS t_ts, c.event_id AS c_id
      |  FROM t JOIN c ON t.user_id = c.user_id AND t.ts <= c.ts
      |    AND t.ts >= c.ts - INTERVAL 1 HOUR),
      |w AS (SELECT t_ts, count(*) OVER (PARTITION BY c_id) AS n_trig FROM pairs)
      |SELECT CAST(hour(t_ts) AS BIGINT) AS click_hour, count(*) AS n_touches,
      |  CAST(sum(CAST(round(1.0 / n_trig, 6) AS DECIMAL(18,6))) AS DOUBLE) AS credit
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCD2 change history over the event stream: each user's consecutive
    * runs of an equal event_type compressed to effective-dated versions
    * ([[graft.operators.Events.changeHistory]]) — eff_to NULL marks the
    * open current version; n_events counts the run.
    */
  private def changeHistoryQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.changeHistory(t(s, dir, "events"),
      "user_id", "ts", "event_type", "event_id")
      .orderBy("user_id", "version")

  /** e_change_history: SCD2-style interval compression — per-user runs
    * of equal event_type, versioned in time order, effective-dated. */
  private def changeHistorySql: String =
    """WITH o AS (SELECT user_id, event_type, ts, event_id,
      |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |            IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events),
      |r AS (SELECT user_id, event_type, ts,
      |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS version
      |  FROM o),
      |g AS (SELECT user_id, version, min(event_type) AS event_type,
      |  min(ts) AS eff_from, count(*) AS n_events
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type, eff_from,
      |  lead(eff_from) OVER (PARTITION BY user_id ORDER BY version) AS eff_to,
      |  n_events
      |FROM g ORDER BY user_id, version""".stripMargin

  /** Mann–Kendall monotone-trend test on daily event volume per type
    * ([[graft.operators.Events.mannKendall]]) — exact integer S, 6-dp τ.
    */
  private def trendMkQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.mannKendall(t(s, dir, "events"))
      .orderBy("key")

  /** e_trend_mk: Mann–Kendall S and τ per event_type over daily counts
    * — exact integer pairwise sign sum. */
  private def trendMkSql: String =
    """WITH daily AS (SELECT event_type AS key,
      |    CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |pr AS (SELECT a.key, sign(b.x - a.x) AS sg
      |  FROM daily a JOIN daily b ON a.key = b.key AND a.d < b.d),
      |nd AS (SELECT key, count(*) AS n_days FROM daily GROUP BY 1),
      |st AS (SELECT key, CAST(sum(sg) AS BIGINT) AS s_stat FROM pr GROUP BY 1)
      |SELECT st.key, nd.n_days, st.s_stat,
      |  round(CAST(st.s_stat AS DOUBLE)
      |      / CAST(nd.n_days * (nd.n_days - 1) / 2 AS DOUBLE), 6) AS tau
      |FROM st JOIN nd USING (key) ORDER BY key""".stripMargin

  /** Lag-1..3 autocorrelation of daily event volume per type
    * ([[graft.operators.Events.autocorrelation]]) — integer-exact
    * deviation sums, one final division.
    */
  private def acfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.autocorrelation(t(s, dir, "events"), maxLag = 3)
      .orderBy("key", "lag")

  /** e_acf: lag-k autocorrelation over daily counts — exact integer
    * (n·x − S) deviation products, one final division per (key, lag). */
  private def acfSql: String =
    """WITH daily AS (SELECT event_type AS key,
      |    CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT key, count(*) AS n, CAST(sum(x) AS BIGINT) AS s, min(d) AS d0
      |  FROM daily GROUP BY 1),
      |dev AS (SELECT daily.key, date_diff('day', st.d0, daily.d) AS t,
      |    CAST(st.n * daily.x - st.s AS BIGINT) AS dv, st.n AS n_days
      |  FROM daily JOIN st USING (key)),
      |den AS (SELECT key, CAST(sum(dv * dv) AS BIGINT) AS den,
      |    first(n_days) AS n_days FROM dev GROUP BY 1),
      |lg AS (SELECT * FROM (VALUES (1), (2), (3)) l(lag)),
      |num AS (SELECT a.key, l.lag, CAST(sum(a.dv * b.dv) AS BIGINT) AS num
      |  FROM dev a CROSS JOIN lg l
      |  JOIN dev b ON b.key = a.key AND b.t = a.t + l.lag
      |  GROUP BY 1, 2)
      |SELECT num.key, CAST(num.lag AS BIGINT) AS lag, den.n_days,
      |  CASE WHEN den.den = 0 THEN 0.0
      |       ELSE round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 6) END AS acf
      |FROM num JOIN den USING (key) ORDER BY key, lag""".stripMargin

  /** Theil–Sen robust daily-volume trend slope per type
    * ([[graft.operators.Events.theilSen]]).
    */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.theilSen(t(s, dir, "events"))
      .orderBy("key")

  /** e_theil_sen: median pairwise day-slope per key — the two central
    * sorted positions averaged, 6 dp; n_days recovered from the exact
    * pair-count inversion. */
  private def theilSenSql: String =
    """WITH daily AS (SELECT event_type AS key,
      |    CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT a.key,
      |    CAST(b.x - a.x AS DOUBLE) / date_diff('day', a.d, b.d) AS slope
      |  FROM daily a JOIN daily b ON a.key = b.key AND a.d < b.d),
      |r AS (SELECT key, slope,
      |    row_number() OVER (PARTITION BY key ORDER BY slope) AS rn,
      |    count(*) OVER (PARTITION BY key) AS m FROM p),
      |sel AS (SELECT key, slope, m FROM r
      |  WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1),
      |ag AS (SELECT key, round(avg(slope), 6) AS slope,
      |    CAST(first(m) AS BIGINT) AS n_pairs FROM sel GROUP BY 1)
      |SELECT key,
      |  CAST((1 + sqrt(1 + 8 * CAST(n_pairs AS DOUBLE))) / 2 AS BIGINT) AS n_days,
      |  n_pairs, slope
      |FROM ag ORDER BY key""".stripMargin

  /** Binary-segmentation changepoint of daily event volume per type
    * ([[graft.operators.Events.changepoint]]).
    */
  private def changepointQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.changepoint(t(s, dir, "events"))
      .orderBy("key")

  /** e_changepoint: argmax of the between-segment variance gain over
    * every split of the daily series — integer prefix-sum deviations,
    * one round-6 division, earlier-day tie-break. */
  private def changepointSql: String =
    """WITH daily AS (SELECT event_type AS key,
      |    CAST(date_trunc('day', ts) AS DATE) AS d, count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT key, count(*) AS n, CAST(sum(x) AS BIGINT) AS s
      |  FROM daily GROUP BY 1),
      |pre AS (SELECT key, d,
      |    CAST(row_number() OVER (PARTITION BY key ORDER BY d) AS BIGINT) AS p,
      |    CAST(sum(x) OVER (PARTITION BY key ORDER BY d
      |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS lsum
      |  FROM daily),
      |sc AS (SELECT pre.key, pre.d, pre.p, pre.lsum, st.n, st.s,
      |    round(CAST(pre.lsum * st.n - pre.p * st.s AS DOUBLE)
      |        * CAST(pre.lsum * st.n - pre.p * st.s AS DOUBLE)
      |        / CAST(st.n * pre.p * (st.n - pre.p) AS DOUBLE), 6) AS gain
      |  FROM pre JOIN st USING (key) WHERE pre.p < st.n),
      |best AS (SELECT * FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY key ORDER BY gain DESC, p) = 1)
      |SELECT key, n AS n_days, d AS cp_day, gain,
      |  round(CAST(lsum AS DOUBLE) / p, 6) AS mean_left,
      |  round(CAST(s - lsum AS DOUBLE) / (n - p), 6) AS mean_right
      |FROM best ORDER BY key""".stripMargin

  /** First-order event-type transition matrix
    * ([[graft.operators.Events.transitionMatrix]]).
    */
  private def transitionsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.transitionMatrix(t(s, dir, "events"))
      .orderBy("from_type", "to_type")

  /** e_transitions: corpus-wide event-type Markov transitions — one
    * lead window per user, row-normalized probabilities. */
  private def transitionsSql: String =
    """WITH p AS (SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS rt FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  round(CAST(c.n AS DOUBLE) / rt.rt, 6) AS p
      |FROM c JOIN rt USING (from_type) ORDER BY from_type, to_type""".stripMargin

  /** Two-proportion A/B z-test: purchase conversion of even- vs
    * odd-numbered users ([[graft.operators.Events.abTest]]).
    */
  private def abTestQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.abTest(t(s, dir, "events"))

  /** e_ab_test: pooled-variance two-proportion z over user-level
    * conversion, variants by user-id parity. */
  private def abTestSql: String =
    """WITH pu AS (SELECT user_id,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      |  FROM events GROUP BY 1),
      |arms AS (SELECT user_id % 2 AS variant, count(*) AS n,
      |    CAST(sum(converted) AS BIGINT) AS conv FROM pu GROUP BY 1),
      |a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE variant = 0),
      |b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE variant = 1),
      |k AS (SELECT *, CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
      |  FROM a, b)
      |SELECT n_a, n_b, conv_a, conv_b,
      |  round(CAST(conv_a AS DOUBLE) / n_a, 6) AS rate_a,
      |  round(CAST(conv_b AS DOUBLE) / n_b, 6) AS rate_b,
      |  round(round(CAST(conv_b AS DOUBLE) / n_b, 6)
      |      - round(CAST(conv_a AS DOUBLE) / n_a, 6), 6) AS lift,
      |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
      |       ELSE round((CAST(conv_b AS DOUBLE) / n_b - CAST(conv_a AS DOUBLE) / n_a)
      |         / sqrt(pp * (CAST(1 AS DOUBLE) - pp)
      |              * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 6) END AS z
      |FROM k""".stripMargin

  /** Funnel latency distribution: first view → first subsequent
    * purchase per user, exact-microsecond order statistics
    * ([[graft.operators.Events.timeToConvert]]).
    */
  private def timeToConvertQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.timeToConvert(t(s, dir, "events"))

  /** e_time_to_convert: exact-microsecond latency order statistics —
    * median as the mean of the two central ranks, p90 at ⌈9n/10⌉. */
  private def timeToConvertSql: String =
    """WITH f AS (SELECT user_id AS uid, min(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |l AS (SELECT e.user_id AS uid, f.t0, min(e.ts) AS t1
      |  FROM events e JOIN f ON f.uid = e.user_id AND e.ts > f.t0
      |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
      |lat AS (SELECT uid, epoch_us(t1) - epoch_us(t0) AS lat_us FROM l),
      |r AS (SELECT uid, lat_us,
      |    CAST(row_number() OVER (ORDER BY lat_us, uid) AS BIGINT) AS rn,
      |    CAST(count(*) OVER () AS BIGINT) AS m
      |  FROM lat)
      |SELECT max(m) AS n_users, min(lat_us) AS min_us, max(lat_us) AS max_us,
      |  avg(CASE WHEN rn = (m + 1) // 2 OR rn = m // 2 + 1
      |      THEN lat_us END) AS median_us,
      |  max(CASE WHEN rn = (m * 9 + 9) // 10 THEN lat_us END) AS p90_us
      |FROM r""".stripMargin

  /** Top-5 three-event user paths ([[graft.operators.Events.topPaths]]).
    */
  private def topPathsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.topPaths(t(s, dir, "events"), k = 5)

  /** e_top_paths: corpus-wide counts of per-user 3-event type paths. */
  private def topPathsSql: String =
    """WITH p AS (SELECT event_type AS e0,
      |    lead(event_type, 1) OVER w AS e1,
      |    lead(event_type, 2) OVER w AS e2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT e0 || '>' || e1 || '>' || e2 AS path, count(*) AS n
      |FROM p WHERE e1 IS NOT NULL AND e2 IS NOT NULL
      |GROUP BY 1 ORDER BY n DESC, path LIMIT 5""".stripMargin

  /** Last-touch attribution via the as-of join: each purchase matched
    * to the same user's latest click at-or-before it
    * ([[graft.operators.AsOf.join]]); gap micros summed exactly.
    */
  private def lastTouchQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    graft.operators.AsOf.join(purchases, clicks, Seq("user_id"), "ts",
        Seq("click_id", "click_ts"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("asof_click_id")).as("n_attributed"),
        sum(unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("asof_click_ts").cast("timestamp")))
          .as("gap_us_sum"))
  }

  /** e_last_touch: latest click at-or-before each purchase, exact gap
    * micro sum. */
  private def lastTouchSql: String =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      |lt AS (SELECT p.event_id, p.ts, max(c.ts) AS ct
      |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
      |  GROUP BY p.event_id, p.ts)
      |SELECT count(*) AS n_purchases, count(ct) AS n_attributed,
      |  CAST(sum(epoch_us(ts) - epoch_us(ct)) AS BIGINT) AS gap_us_sum
      |FROM lt""".stripMargin

  /** Rolling 7-day active users: each user-day contributes to the 7
    * trailing windows via an explode (the scale shape — equi-join on
    * the day, no range join), exact distinct per reported day.
    */
  private def rollingWauQ(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct()
    val days = ud.select(col("d").as("day")).distinct()
    ud.select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("day"))
      .join(days, "day")
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("day")
  }

  /** e_rolling_wau: trailing 7-day distinct users per observed day. */
  private def rollingWauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
      |days AS (SELECT DISTINCT d AS day FROM ud)
      |SELECT days.day, count(DISTINCT ud.user_id) AS wau
      |FROM ud JOIN days ON days.day BETWEEN ud.d AND ud.d + 6
      |GROUP BY 1 ORDER BY day""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("e_hourly_events", hourlyEvents, hourlyEventsSql),
    QuerySpec("e_sessionize", sessionize, sessionizeSql),
    QuerySpec("e_seasonality", seasonalityQ, seasonalitySql),
    QuerySpec("e_funnel", funnelQ, funnelSql),
    QuerySpec("e_mad_outliers", madOutliersQ, madOutliersSql),
    QuerySpec("e_decayed_engagement", decayedEngagementQ, decayedEngagementSql),
    QuerySpec("e_cohort_retention", cohortRetentionQ, cohortRetentionSql),
    QuerySpec("e_resample_locf", resampleLocfQ, resampleLocfSql),
    QuerySpec("e_multi_touch", multiTouchQ, multiTouchSql),
    QuerySpec("e_change_history", changeHistoryQ, changeHistorySql),
    QuerySpec("e_trend_mk", trendMkQ, trendMkSql),
    QuerySpec("e_acf", acfQ, acfSql),
    QuerySpec("e_theil_sen", theilSenQ, theilSenSql),
    QuerySpec("e_changepoint", changepointQ, changepointSql),
    QuerySpec("e_transitions", transitionsQ, transitionsSql),
    QuerySpec("e_ab_test", abTestQ, abTestSql),
    QuerySpec("e_time_to_convert", timeToConvertQ, timeToConvertSql),
    QuerySpec("e_top_paths", topPathsQ, topPathsSql),
    QuerySpec("e_last_touch", lastTouchQ, lastTouchSql),
    QuerySpec("e_rolling_wau", rollingWauQ, rollingWauSql))
}
