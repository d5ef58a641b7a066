package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-stream analytics: ordered funnels, cohort retention, and
  * regular-grid resampling with last-observation-carried-forward —
  * the product-analytics layer over the `events` stream, built from
  * the same shuffle-disciplined primitives as the rest of the engine.
  */
object Events {

  /** Ordered funnel: how many users reach step 1, then step 2 STRICTLY
    * AFTER their step-1 time, and so on (the standard product funnel —
    * each stage's clock starts at the user's earliest completion of the
    * previous stage).
    *
    * Shape at scale: stage k is one filter + one groupBy(min) joined to
    * stage k−1's (id, t) relation — every shuffle is on the user key,
    * so AQE/co-partitioning reuses one exchange; nothing is windowed
    * over the full stream. Output: (step_idx, step, n_users,
    * conv_total, conv_prev), rates 6-dp of one integer division each.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             idCol: String = "user_id", tsCol: String = "ts",
             typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = events.select(col(s"`$idCol`").as("id"),
      col(s"`$tsCol`").as("ts"), col(s"`$typeCol`").as("et"))
    val stages = steps.tail.scanLeft(
      base.filter(col("et") === steps.head).groupBy("id").agg(min(col("ts")).as("t"))
    ) { (prev, s) =>
      base.filter(col("et") === s)
        .join(prev.select(col("id"), col("t").as("__prev")), "id")
        .filter(col("ts") > col("__prev"))
        .groupBy("id").agg(min(col("ts")).as("t"))
    }
    val summary = stages.zip(steps).zipWithIndex.map { case ((df, s), i) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step_idx"), lit(s).as("step"), col("n_users"))
    }.reduce(_ unionByName _)
    val first = summary.filter(col("step_idx") === 1)
      .select(col("n_users").as("__n1"))
    val prev = summary.select((col("step_idx") + 1).as("step_idx"),
      col("n_users").as("__np"))
    summary.crossJoin(broadcast(first))
      .join(broadcast(prev), Seq("step_idx"), "left")
      .select(col("step_idx"), col("step"), col("n_users"),
        round(col("n_users").cast("double") / col("__n1").cast("double"), 6)
          .as("conv_total"),
        round(col("n_users").cast("double")
          / coalesce(col("__np"), col("n_users")).cast("double"), 6)
          .as("conv_prev"))
  }

  /** Weekly cohort retention: users are cohorted by the ISO week of
    * their first event; retention at offset w = active users of that
    * cohort in cohort_week + w weeks, over the cohort's size.
    * Two user-keyed shuffles (first-week, distinct activity) and one
    * tiny (cohort, offset) aggregation — stream-size-proportional work
    * only in the distinct.
    */
  def cohortRetention(events: DataFrame, idCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val firstWeek = events.groupBy(col(s"`$idCol`").as("id"))
      .agg(date_trunc("week", min(col(s"`$tsCol`"))).cast("date").as("cohort_week"))
    val activity = events.select(col(s"`$idCol`").as("id"),
      date_trunc("week", col(s"`$tsCol`")).cast("date").as("w")).distinct()
    val counts = activity.join(firstWeek, "id")
      .withColumn("week_offset", (datediff(col("w"), col("cohort_week")) / 7).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
    val sizes = counts.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("__size"))
    counts.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("__size").cast("double"), 6)
          .as("retention"))
  }

  /** SCD2-style change history: collapse each key's consecutive runs of
    * an equal tracked value into effective-dated versions — the
    * slowly-changing-dimension builder (and its inverse view: an event
    * log compressed to intervals). A key whose value never changes
    * yields one open-ended version; every change closes the previous
    * version at the next run's `eff_from` (`eff_to` NULL = current).
    *
    * Shape at scale: the lag, the run-id cumulative sum, and the final
    * lead are ALL windowed over `partitionBy(keyCol)` with the same
    * (tsCol, tieCol) sort, so one exchange + one sort serve the whole
    * plan; the run groupBy re-keys on (key, version) — no global window,
    * no self-join, state linear in run count.
    * Output: (key, version, value, eff_from, eff_to, n_events),
    * version 1..n per key in time order.
    */
  def changeHistory(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(s"`$keyCol`"))
      .orderBy(col(s"`$tsCol`"), col(s"`$tieCol`"))
    val runs = events
      .withColumn("__prev", lag(col(s"`$valueCol`"), 1).over(w))
      .withColumn("__chg",
        when(col("__prev").isNull || col("__prev") =!= col(s"`$valueCol`"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("__chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(s"`$keyCol`"), col("version"))
      .agg(min(col(s"`$valueCol`")).as(valueCol), // constant within a run
        min(col(s"`$tsCol`")).as("eff_from"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(col(s"`$keyCol`")).orderBy(col("version"))
    runs.withColumn("eff_to", lead(col("eff_from"), 1).over(byVersion))
      .select(col(s"`$keyCol`"), col("version"), col(s"`$valueCol`"),
        col("eff_from"), col("eff_to"), col("n_events"))
  }

  /** (key, d, x): the number of events per key and calendar day — the
    * bounded aggregate the daily-series statistics run on. */
  private def dailyCounts(events: DataFrame, keyCol: String, tsCol: String): DataFrame =
    events.select(col(s"`$keyCol`").as("key"),
        date_trunc("day", col(s"`$tsCol`")).cast("date").as("d"))
      .groupBy("key", "d").agg(count(lit(1)).as("x"))

  /** (key, d1, x1, d2, x2): every pair of one key's days with d1 < d2. */
  private def dayPairs(daily: DataFrame): DataFrame = {
    val a = daily.select(col("key"), col("d").as("d1"), col("x").as("x1"))
    val b = daily.select(col("key"), col("d").as("d2"), col("x").as("x2"))
    a.join(b, Seq("key")).filter(col("d1") < col("d2"))
  }

  /** Mann–Kendall trend test per key over a daily-count series: the
    * rank-based monotone-trend statistic `S = Σ_{i<j} sign(x_j − x_i)`
    * and Kendall's `τ = S / (n(n−1)/2)` — is a stream's volume trending
    * up or down, robust to outliers and with an EXACT integer statistic
    * (no distributional assumption replayed in floating point).
    *
    * Shape at scale: the raw stream collapses to (key, day, count)
    * first — one shuffle proportional to key×days, not events — and the
    * pairwise self-join runs on that bounded aggregate (n days per key,
    * n² pairs of TINY rows). τ is one integer division, 6 dp.
    * Output: (key, n_days, s_stat, tau).
    */
  def mannKendall(events: DataFrame, keyCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame = {
    dayPairs(dailyCounts(events, keyCol, tsCol))
      .groupBy("key")
      .agg(sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        (countDistinct(col("d1")) + 1).as("n_days")) // d_max never appears as d1
      .withColumn("tau", round(col("s_stat").cast("double") /
        (col("n_days") * (col("n_days") - 1) / 2).cast("double"), 6))
      .select(col("key"), col("n_days"), col("s_stat"), col("tau"))
  }

  /** Lag-k autocorrelation of the daily-count series per key — the
    * seasonality probe companion to [[mannKendall]] (MK asks "is volume
    * trending"; ACF asks "does it repeat on a cycle").
    *
    * EXACT integer arithmetic end to end: with n days and day-sum S,
    * `acf_k = Σ(n·x_t − S)(n·x_{t+k} − S) / Σ(n·x_t − S)²` — both sums
    * of integer products (the n² scaling cancels), so every engine
    * agrees bit-for-bit before the one final division. Day offsets join
    * on an integer index from `datediff(min day)`, so calendar gaps
    * simply produce no pair.
    *
    * Shape at scale: raw events collapse to (key, t, x) first; the lag
    * join and the deviation sums run on that bounded aggregate. Output:
    * (key, lag, n_days, acf), one row per key × lag 1..maxLag.
    */
  def autocorrelation(events: DataFrame, maxLag: Int = 3,
                      keyCol: String = "event_type",
                      tsCol: String = "ts"): DataFrame = {
    require(maxLag > 0, "maxLag must be positive")
    val daily = dailyCounts(events, keyCol, tsCol)
    val stats = daily.groupBy("key")
      .agg(count(lit(1)).as("__n"), sum(col("x")).as("__s"))
    val dev = daily.join(broadcast(stats), "key")
      .join(broadcast(daily.groupBy("key").agg(min(col("d")).as("__d0"))), "key")
      .select(col("key"), col("__n"), col("__s"),
        datediff(col("d"), col("__d0")).cast("long").as("t"),
        (col("__n") * col("x") - col("__s")).as("dv"))
    val den = dev.groupBy("key")
      .agg(sum(col("dv") * col("dv")).as("__den"), first(col("__n")).as("n_days"))
    val lags = dev.select(col("key"), col("t"), col("dv"))
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
    val num = lags.join(dev.select(col("key").as("__k2"), col("t").as("t2"),
        col("dv").as("dv2")),
        col("__k2") === col("key") && col("t2") === col("t") + col("lag"))
      .groupBy("key", "lag").agg(sum(col("dv") * col("dv2")).as("__num"))
    num.join(broadcast(den), "key")
      .select(col("key"), col("lag").cast("long").as("lag"), col("n_days"),
        when(col("__den") === 0, lit(0.0)) // constant series: no variance
          .otherwise(round(col("__num").cast("double") /
            col("__den").cast("double"), 6)).as("acf"))
  }

  /** Theil–Sen robust trend slope per key: the MEDIAN of all pairwise
    * day-slopes of the daily-count series — the magnitude companion to
    * [[mannKendall]]'s direction, immune to outlier days.
    *
    * Determinism: each slope is ONE integer/integer IEEE division
    * (identical in any engine); the median picks sorted positions
    * ⌈m/2⌉ and ⌊m/2⌋+1 by value order (duplicate slope VALUES make the
    * position tie-break irrelevant to the median value) and averages
    * them, 6 dp. The rank window runs per key over the bounded
    * n(n−1)/2 pair relation of the DAILY aggregate, never raw events.
    * Output: (key, n_days, n_pairs, slope).
    */
  def theilSen(events: DataFrame, keyCol: String = "event_type",
               tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slopes = dayPairs(dailyCounts(events, keyCol, tsCol))
      .select(col("key"),
        ((col("x2") - col("x1")).cast("double") /
          datediff(col("d2"), col("d1")).cast("double")).as("slope"))
    val w = Window.partitionBy(col("key")).orderBy(col("slope"))
    slopes
      .withColumn("__rn", row_number().over(w))
      .withColumn("__m", count(lit(1)).over(Window.partitionBy(col("key"))))
      // Spark `/` on longs is DOUBLE division — floor() makes the two
      // median positions ⌊(m+1)/2⌋ and ⌊m/2⌋+1 true integer ranks
      .filter(col("__rn") === floor((col("__m") + 1) / 2) ||
        col("__rn") === floor(col("__m") / 2) + 1)
      .groupBy("key")
      .agg(round(avg(col("slope")), 6).as("slope"),
        first(col("__m")).as("n_pairs"))
      .withColumn("n_days",
        ((lit(1.0) + sqrt(lit(1.0) + lit(8.0) * col("n_pairs").cast("double"))) / 2)
          .cast("long")) // m = n(n−1)/2 inverted, exact for integer n
      .select(col("key"), col("n_days"), col("n_pairs"), col("slope"))
  }

  /** Single changepoint per key by binary segmentation on the daily
    * mean: the split position maximizing the between-segment variance
    * gain `(L_p·n − p·S)² / (n·p·(n−p))` (prefix sum L_p, total S) —
    * "when did this stream's volume regime change", the alerting
    * companion to [[mannKendall]]'s "is it drifting".
    *
    * The deviation `L_p·n − p·S` is an exact integer from one prefix-sum
    * window over the bounded daily aggregate; the gain is one round-6
    * division and the argmax tie-breaks on the earlier day — fully
    * deterministic. Output: (key, n_days, cp_day (last day of the left
    * segment), gain, mean_left, mean_right). Keys need ≥ 2 days.
    */
  def changepoint(events: DataFrame, keyCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyCounts(events, keyCol, tsCol)
    val w = Window.partitionBy(col("key")).orderBy(col("d"))
    val pre = daily
      .withColumn("p", row_number().over(w).cast("long"))
      .withColumn("lsum", sum(col("x"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val stats = daily.groupBy("key")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val scored = pre.join(broadcast(stats), "key")
      .filter(col("p") < col("n")) // a split needs a non-empty right side
      .withColumn("__dev", (col("lsum") * col("n") - col("p") * col("s"))
        .cast("double"))
      .withColumn("gain", round(col("__dev") * col("__dev") /
        (col("n") * col("p") * (col("n") - col("p"))).cast("double"), 6))
    val best = Window.partitionBy(col("key"))
      .orderBy(col("gain").desc, col("p"))
    scored.withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("key"), col("n").as("n_days"), col("d").as("cp_day"),
        col("gain"),
        round(col("lsum").cast("double") / col("p").cast("double"), 6)
          .as("mean_left"),
        round((col("s") - col("lsum")).cast("double") /
          (col("n") - col("p")).cast("double"), 6).as("mean_right"))
  }

  /** First-order Markov transition matrix of the event stream: per
    * user, each event's type paired with the NEXT type in time order;
    * corpus-wide transition counts and row-normalized probabilities —
    * the behavioral fingerprint behind funnels ("after a click, what
    * actually happens next").
    *
    * One key-partitioned lead window (same exchange discipline as
    * [[changeHistory]]), one (from, to) aggregation, probabilities as a
    * single round-6 division against the broadcast row totals.
    * Output: (from_type, to_type, n, p) — p sums to 1 per from_type.
    */
  def transitionMatrix(events: DataFrame, keyCol: String = "user_id",
                       tsCol: String = "ts", typeCol: String = "event_type",
                       tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(s"`$keyCol`"))
      .orderBy(col(s"`$tsCol`"), col(s"`$tieCol`"))
    val pairs = events
      .withColumn("__next", lead(col(s"`$typeCol`"), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(s"`$typeCol`").as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val rowTot = pairs.groupBy("from_type").agg(sum(col("n")).as("__rt"))
    pairs.join(broadcast(rowTot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__rt").cast("double"), 6).as("p"))
  }

  /** Top event PATHS: the most common length-3 type sequences per user
    * stream — [[transitionMatrix]]'s higher-order sibling (transitions
    * say "what follows a click"; paths say "which whole journeys
    * dominate"). Two lead offsets on the one user-keyed window, a
    * corpus-wide count, a distributed ordered limit. Output: (path, n),
    * top `k` by (n desc, path).
    */
  def topPaths(events: DataFrame, k: Int = 5, len3Sep: String = ">",
               keyCol: String = "user_id", tsCol: String = "ts",
               typeCol: String = "event_type", tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(s"`$keyCol`"))
      .orderBy(col(s"`$tsCol`"), col(s"`$tieCol`"))
    events
      .withColumn("__n1", lead(col(s"`$typeCol`"), 1).over(w))
      .withColumn("__n2", lead(col(s"`$typeCol`"), 2).over(w))
      .filter(col("__n1").isNotNull && col("__n2").isNotNull)
      .select(concat_ws(len3Sep, col(s"`$typeCol`"), col("__n1"), col("__n2"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(k)
  }

  /** Two-proportion z-test for an A/B experiment read off the event
    * stream: users split by a deterministic variant function, success =
    * "user emitted at least one `successType` event". Pooled-variance
    * z statistic and absolute lift, all from exact integer user counts
    * through one deterministic double expression chain (round-6).
    * Output: one row (n_a, n_b, conv_a, conv_b, rate_a, rate_b, lift, z).
    *
    * Shape: one distinct-users aggregation (success flag via max over
    * the per-user group), one tiny two-row rollup — no windows.
    */
  def abTest(events: DataFrame, successType: String = "purchase",
             idCol: String = "user_id", typeCol: String = "event_type"): DataFrame = {
    val perUser = events.groupBy(col(s"`$idCol`").as("uid"))
      .agg(max(when(col(s"`$typeCol`") === successType, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("variant", pmod(col("uid"), lit(2L)))
    val arms = perUser.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val a = arms.filter(col("variant") === 0)
      .select(col("n").as("n_a"), col("conv").as("conv_a"))
    val b = arms.filter(col("variant") === 1)
      .select(col("n").as("n_b"), col("conv").as("conv_b"))
    a.crossJoin(b)
      .withColumn("rate_a",
        round(col("conv_a").cast("double") / col("n_a").cast("double"), 6))
      .withColumn("rate_b",
        round(col("conv_b").cast("double") / col("n_b").cast("double"), 6))
      .withColumn("lift", round(col("rate_b") - col("rate_a"), 6))
      .withColumn("__pp", (col("conv_a") + col("conv_b")).cast("double") /
        (col("n_a") + col("n_b")).cast("double"))
      .withColumn("z",
        // all-convert / none-convert pools have zero variance: z := 0
        when(col("conv_a") + col("conv_b") === 0 ||
            col("conv_a") + col("conv_b") === col("n_a") + col("n_b"), lit(0.0))
          .otherwise(round(
            (col("conv_b").cast("double") / col("n_b").cast("double") -
              col("conv_a").cast("double") / col("n_a").cast("double")) /
              sqrt(col("__pp") * (lit(1.0) - col("__pp")) *
                (lit(1.0) / col("n_a").cast("double") +
                  lit(1.0) / col("n_b").cast("double"))), 6)))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a"), col("rate_b"), col("lift"), col("z"))
  }

  /** Time-to-convert distribution: per user, the latency from the FIRST
    * `fromType` event to the first `toType` event strictly after it,
    * summarized as exact-microsecond order statistics — the "how long
    * does the funnel actually take" report beside [[funnel]]'s "how
    * many make it".
    *
    * Percentiles are POSITIONS in the sorted bounded per-user relation
    * (median = mean of the two central ranks, p90 = rank ⌈9n/10⌉ by
    * integer arithmetic) — no float percentile estimator, so every
    * engine lands on the same microsecond. Ranks come from a window-free
    * distributed position pass over the latency-sorted per-user relation
    * ([[Ranking.withPosition]] — one row per converting user, range-
    * partitioned by the sort, no single-reducer funnel even at billions
    * of users). Output: one row
    * (n_users, min_us, max_us, median_us, p90_us).
    */
  def timeToConvert(events: DataFrame, fromType: String = "view",
                    toType: String = "purchase", idCol: String = "user_id",
                    tsCol: String = "ts", typeCol: String = "event_type"): DataFrame = {
    val first = events.filter(col(s"`$typeCol`") === fromType)
      .groupBy(col(s"`$idCol`").as("uid"))
      .agg(min(col(s"`$tsCol`")).as("t0"))
    val lat = events.filter(col(s"`$typeCol`") === toType)
      .select(col(s"`$idCol`").as("uid"), col(s"`$tsCol`").as("t1"))
      .join(first, "uid").filter(col("t1") > col("t0"))
      .groupBy("uid", "t0").agg(min(col("t1")).as("t1"))
      .select(col("uid"),
        (unix_micros(col("t1").cast("timestamp")) -
          unix_micros(col("t0").cast("timestamp"))).as("lat_us"))
    val n = lat.agg(count(lit(1)).as("__m"))
    Ranking.withPosition(lat.orderBy(col("lat_us"), col("uid")), "__rn")
      .crossJoin(broadcast(n))
      .agg(max(col("__m")).as("n_users"),
        min(col("lat_us")).as("min_us"),
        max(col("lat_us")).as("max_us"),
        avg(when(col("__rn") === floor((col("__m") + 1) / 2) ||
          col("__rn") === floor(col("__m") / 2) + 1, col("lat_us")))
          .as("median_us"),
        max(when(col("__rn") === floor((col("__m") * 9 + 9) / 10),
          col("lat_us"))).as("p90_us"))
  }

  /** Linear multi-touch attribution — the share-the-credit complement
    * to last-touch (`x_asof_join` / `e_last_touch`): every trigger event
    * inside the `horizon` before a conversion by the same user receives
    * an equal 1/n share of that conversion's credit, rolled up by the
    * trigger's hour of day (which hours' touches actually drive
    * conversions).
    *
    * Scale shape: the pair relation is the batch twin of
    * `StreamingProfile.attributionJoin` — ONE user-keyed equi-join with
    * the interval predicate applied inside, never a cross product. The
    * per-conversion touch count is a window partitioned by conversion id
    * (bounded by touches-per-conversion, never corpus-global). Credit
    * shares round to 6 dp and sum as exact DECIMAL(18,6), so the total
    * is independent of aggregation order.
    * Output: (click_hour, n_touches, credit), ordered by hour.
    */
  def linearAttribution(events: DataFrame, triggerType: String = "click",
                        convType: String = "purchase", horizon: String = "1 hour",
                        idCol: String = "user_id", tsCol: String = "ts",
                        typeCol: String = "event_type",
                        eventIdCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val trig = events.filter(col(s"`$typeCol`") === triggerType)
      .select(col(s"`$idCol`").as("t_user"), col(s"`$tsCol`").as("t_ts"),
        col(s"`$eventIdCol`").as("t_id"))
    val conv = events.filter(col(s"`$typeCol`") === convType)
      .select(col(s"`$idCol`").as("c_user"), col(s"`$tsCol`").as("c_ts"),
        col(s"`$eventIdCol`").as("c_id"))
    val pairs = trig.join(conv,
      col("t_user") === col("c_user") &&
        col("t_ts") <= col("c_ts") &&
        col("t_ts") >= col("c_ts") - expr(s"interval $horizon"))
    val perConv = Window.partitionBy(col("c_id"))
    pairs.withColumn("n_trig", count(lit(1)).over(perConv))
      .withColumn("share", round(lit(1.0) / col("n_trig"), 6))
      .groupBy(hour(col("t_ts")).cast("long").as("click_hour"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("share").cast(DecimalType(18, 6))).cast("double").as("credit"))
      .orderBy("click_hour")
  }

  /** Regular-grid resample with LOCF: per key, an hourly (or any
    * `stepExpr`) grid spanning that key's observed range; each grid
    * point carries the value of the latest observation at-or-before it
    * ([[AsOf.join]] — one key shuffle, no range explosion).
    * Output: (key, grid_ts, asof_<valCol>).
    */
  def resampleLocf(obs: DataFrame, keyCol: String, tsCol: String,
                   valCol: String, stepExpr: String = "interval 1 hour",
                   truncUnit: String = "hour"): DataFrame = {
    val spans = obs.groupBy(col(s"`$keyCol`"))
      .agg(date_trunc(truncUnit, min(col(s"`$tsCol`"))).as("__lo"),
        date_trunc(truncUnit, max(col(s"`$tsCol`"))).as("__hi"))
    val grid = spans.select(col(s"`$keyCol`"),
      explode(expr(s"sequence(__lo, __hi, $stepExpr)")).as(tsCol))
    AsOf.join(grid, obs.select(col(s"`$keyCol`"), col(s"`$tsCol`"), col(s"`$valCol`")),
      Seq(keyCol), tsCol, Seq(valCol))
  }

  /** Day-of-week seasonality profile per event type — the weekly-cycle
    * screen next to [[autocorrelation]] (period detection) and
    * [[mannKendall]] (trend): for each (type, weekday) the PPM ratio of
    * observed events to the uniform expectation n_type/7. Exact
    * integers throughout (`n·7·1e6 div n_type`); weekday is Monday 0 …
    * Sunday 6 on both engines (Spark `weekday()` ≡ DuckDB `isodow−1`).
    * One map-side-combined aggregation + a 7·|types| join — free at any
    * scale. Output: (type, dow, n, seasonality_idx).
    */
  def weekdaySeasonality(events: DataFrame, typeCol: String = "event_type",
                         tsCol: String = "ts"): DataFrame = {
    val counts = events
      .groupBy(col(s"`$typeCol`"),
        expr(s"CAST(weekday(`$tsCol`) AS BIGINT)").as("dow"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(s"`$typeCol`").agg(sum(col("n")).as("n_type"))
    counts.join(broadcast(totals), typeCol)
      .select(col(s"`$typeCol`"), col("dow"), col("n"),
        (expr("n * 7 * 1000000 div n_type").cast("double") / 1e6)
          .as("seasonality_idx"))
  }
}
