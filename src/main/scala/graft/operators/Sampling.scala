package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixes.
  *
  * `DataFrame.sample` is seed-stable only for a fixed partitioning — a
  * repartition or a different file split changes the sample. At 100 TB a
  * training mix must be REPRODUCIBLE from the data alone, so membership
  * here is a pure function of the row id: keep iff
  * `md5_low32(id:salt) < fraction·2³²`. Same rows selected on any
  * cluster, any partitioning, any engine (the oracle recomputes
  * membership in DuckDB via `md5_number_lower`). Changing `salt` draws an
  * independent sample — that is the resample knob.
  */
object Sampling {

  /** Little-endian uint32 of md5 bytes [8,12) — the engine's shared base
    * hash (`MinHash.md5Low32` ≡ DuckDB `md5_number_lower & 2³²−1`). */
  private def md5Low32Col(c: Column): Column =
    graft.functions.SketchFunctions.md5_low32(c)

  private def threshold(fraction: Double): Long =
    math.floor(fraction * 4294967296.0).toLong

  /** Keep each row with probability `fraction`, decided by the row's id
    * hash — reproducible Bernoulli sampling. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          salt: String = "s0"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.filter(
      md5Low32Col(concat_ws(":", col(s"`$idCol`").cast("string"), lit(salt)))
        < lit(threshold(fraction)))
  }

  /** Per-stratum fractions (the data-mixing primitive: "50% en, 25% zh,
    * 10% of everything else"). Strata absent from `fractions` use
    * `defaultFraction`. One scan, no shuffle — membership is row-local.
    */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double],
                       defaultFraction: Double = 0.0, idCol: String,
                       salt: String = "s0"): DataFrame = {
    val thr = fractions.foldLeft(lit(threshold(defaultFraction))) {
      case (acc, (k, f)) =>
        when(col(s"`$strataCol`") === k, lit(threshold(f))).otherwise(acc)
    }
    df.filter(
      md5Low32Col(concat_ws(":", col(s"`$idCol`").cast("string"), lit(salt))) < thr)
  }

  /** Temperature-flattened mixture sampling — the multi-source pretraining
    * mix recipe (public precedent: XLM-R / LLaMA-style up/down-weighting
    * with w_s ∝ n_s^τ, τ < 1 flattening head sources). τ is FIXED at 0.5:
    * sqrt is the one power IEEE-754 rounds exactly in every engine, so the
    * sampled set stays a pure engine-replayable function of the data.
    *
    * Source s holding n_s tokens is sampled at
    * `rate_s = min(1, T·isq_s / Σisq / n_s)` with
    * `isq_s = floor(sqrt(n_s)·10⁶)` (sqrt quantized to integer
    * micro-units, so the normalizing Σ is an ORDER-INDEPENDENT integer
    * sum — no floating summation to diverge between engines) and
    * T = targetFrac · Σn. Membership is then the usual salted-hash draw.
    *
    * Scale shape: per-source totals are one groupBy over a tiny key set;
    * rates join back as a broadcast; membership is row-local. Returns the
    * input rows with `mix_rate` attached.
    */
  def temperatureMixture(df: DataFrame, sourceCol: String, tokenCol: String,
                         idCol: String, targetFrac: Double = 0.3,
                         salt: String = "mix0"): DataFrame = {
    require(targetFrac > 0 && targetFrac <= 1, "targetFrac must be in (0,1]")
    val totals = df.groupBy(col(s"`$sourceCol`").as("__src"))
      .agg(sum(col(s"`$tokenCol`")).cast("long").as("__n"))
      .withColumn("__isq",
        floor(sqrt(col("__n").cast("double")) * lit(1000000.0)).cast("long"))
    val grand = totals.agg(sum(col("__isq")).as("__sisq"),
      sum(col("__n")).as("__tot"))
    val rates = totals.crossJoin(broadcast(grand))
      .withColumn("__t", floor(col("__tot").cast("double") * lit(targetFrac)))
      .withColumn("mix_rate", least(lit(1.0),
        col("__t") * col("__isq").cast("double") / col("__sisq").cast("double")
          / col("__n").cast("double")))
      .select(col("__src"), col("mix_rate"))
    df.join(broadcast(rates), col(s"`$sourceCol`") === col("__src"))
      .drop("__src")
      .filter(
        md5Low32Col(concat_ws(":", col(s"`$idCol`").cast("string"), lit(salt)))
          < floor(col("mix_rate") * lit(4294967296.0)).cast("long"))
  }

  /** The bucket key columns, and per bucket (keys…, n_docs, n_tokens,
    * __isq): the document and token counts and the τ=0.5 temperature
    * weight's integer sqrt quantization `floor(√n_tokens · 10⁶)`. */
  private def bucketTotals(df: DataFrame, bucketCols: Seq[String],
                           tokenCol: Column): (Seq[Column], DataFrame) = {
    val k = bucketCols.map(c => col(s"`$c`"))
    (k, df.groupBy(k: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCol).cast("long").as("n_tokens"))
      .withColumn("__isq",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long")))
  }

  /** Token-budget accounting — the report a mixture planner reads before
    * committing a pretraining run: per bucket (source × language is the
    * usual grain), document/token counts, corpus share, the τ=0.5
    * temperature weight ([[temperatureMixture]]'s isq quantization, so
    * the normalizer is an order-independent integer sum), the token count
    * the budget allocates to the bucket, and the implied oversampling
    * factor (>1 = the bucket repeats epochs, the "4 epochs of Wikipedia"
    * signal planners watch for).
    *
    * Determinism: counts and isq are exact integers; every ratio is ONE
    * IEEE-754 division of exact operands (identical in any engine) — no
    * order-dependent float summation anywhere. One groupBy over the tiny
    * bucket key set + one broadcast of the two grand totals: at 100 TB
    * this is a single map-side-combined aggregation.
    */
  def tokenBudgetPlan(df: DataFrame, bucketCols: Seq[String],
                      tokenCol: Column, budget: Long): DataFrame = {
    val (k, totals) = bucketTotals(df, bucketCols, tokenCol)
    val grand = totals.agg(sum(col("__isq")).as("__sisq"),
      sum(col("n_tokens")).as("__tot"))
    val planned = lit(budget).cast("double") * col("__isq") / col("__sisq")
    totals.crossJoin(broadcast(grand))
      .withColumn("share", round(col("n_tokens").cast("double") / col("__tot"), 6))
      .withColumn("weight", round(col("__isq").cast("double") / col("__sisq"), 6))
      .withColumn("planned_tokens", floor(planned).cast("long"))
      .withColumn("oversample",
        round(col("planned_tokens").cast("double") / col("n_tokens"), 6))
      .select(k ++ Seq(col("n_docs"), col("n_tokens"), col("share"),
        col("weight"), col("planned_tokens"), col("oversample")): _*)
  }

  /** Epoch-capped token allocation — the data-constrained-mixing step a
    * planner applies AFTER [[tokenBudgetPlan]]'s desired shares (public
    * precedent: Muennighoff et al. 2023, "Scaling Data-Constrained
    * Language Models" — repeating a source beyond ~4 epochs stops
    * helping, so allocations cap at `maxEpochs` passes and the plan
    * reports the shortfall instead of silently over-repeating).
    *
    * Exact integer arithmetic end to end (engine-replayable):
    *  - weight_ppm  = isq·10⁶ div Σisq (the τ=0.5 sqrt quantization)
    *  - desired     = budget·weight_ppm div 10⁶
    *  - epochs (µ)  = min(maxEpochs·10⁶, desired·10⁶ div n_tokens)
    *  - actual      = n_tokens·epochs_µ div 10⁶  (≤ desired by
    *    construction; < desired exactly when the cap binds)
    *  - shortfall   = desired − actual (the tokens the planner must
    *    source elsewhere — this column IS the point of the table)
    *
    * Scale shape: one map-side-combined groupBy over the tiny bucket
    * key set + one broadcast 1-row grand total; everything after is a
    * projection.
    */
  def epochCappedPlan(df: DataFrame, bucketCols: Seq[String],
                      tokenCol: Column, budget: Long,
                      maxEpochs: Int): DataFrame = {
    require(budget > 0 && maxEpochs > 0, "budget and maxEpochs must be positive")
    val (k, totals) = bucketTotals(df, bucketCols, tokenCol)
    val grand = totals.agg(sum(col("__isq")).as("__sisq"))
    // ppm products run in DECIMAL(38,0): the Long forms wrap silently in
    // non-ANSI Spark once budget exceeds ~9.2e12 tokens (budget·ppm) or a
    // bucket holds >8.5e13 tokens (isq·10⁶) — real magnitudes for a
    // 100 TB corpus plan — while DuckDB `//` raises, so the engines would
    // diverge exactly where the plan matters. Products peak ≈ 10²⁵, deep
    // inside 38 digits; `div` returns BIGINT and every quotient is
    // ≤ budget by construction, so the output schema is unchanged.
    totals.crossJoin(broadcast(grand))
      .withColumn("weight_ppm",
        expr("CAST(__isq AS DECIMAL(38,0)) * 1000000 div __sisq"))
      .withColumn("desired_tokens",
        expr(s"CAST(${budget} AS DECIMAL(38,0)) * weight_ppm div 1000000"))
      .withColumn("epochs_micro",
        when(col("n_tokens") === 0, lit(0L)).otherwise(least(
          lit(maxEpochs * 1000000L),
          expr("CAST(desired_tokens AS DECIMAL(38,0)) * 1000000 div n_tokens"))))
      .withColumn("actual_tokens",
        expr("CAST(n_tokens AS DECIMAL(38,0)) * epochs_micro div 1000000"))
      .select(k ++ Seq(col("n_docs"), col("n_tokens"), col("weight_ppm"),
        col("desired_tokens"),
        (col("epochs_micro").cast("double") / 1e6).as("epochs_r"),
        col("actual_tokens"),
        (col("desired_tokens") - col("actual_tokens")).as("shortfall")): _*)
  }

  /** Compute-optimal training-data planner (Hoffmann et al. 2022,
    * "Training Compute-Optimal Large Language Models" — Chinchilla;
    * public): for each FLOP budget C, the compute-optimal model size
    * is N* = √(C / (6·r)) with r = tokens-per-parameter (≈20 in the
    * paper), the data requirement D* = r·N*, and the feasibility
    * question is D* vs this corpus's token count under the
    * [[epochCappedPlan]] repeat ceiling. √ of an integer-valued
    * double is IEEE-754 CORRECTLY ROUNDED (unlike exp/ln), so
    * floor(√·) is bit-identical cross-engine — the temperatureMix
    * seam. Budgets are exaFLOP integers to stay inside long.
    *
    * Scale: ONE corpus token aggregate; the plan itself is a
    * |grid|-row computation.
    *
    * @return per budget (flops_exa, n_opt_params, d_opt_tokens,
    *         corpus_tokens, epochs_needed_ppm, feasible). */
  def chinchillaPlan(docs: DataFrame, tokenCol: Column,
                     flopsExaGrid: Seq[Long] = Seq(1L, 10L, 100L, 1000L),
                     tokensPerParam: Long = 20L,
                     maxEpochs: Long = 4L): DataFrame = {
    require(flopsExaGrid.nonEmpty && tokensPerParam > 0 && maxEpochs > 0,
      "need a budget grid, tokensPerParam > 0, maxEpochs > 0")
    val s = docs.sparkSession
    import s.implicits._
    val corpus = docs.agg(sum(tokenCol).cast("long").as("corpus_tokens"))
    flopsExaGrid.toDF("flops_exa")
      .crossJoin(broadcast(corpus))
      .withColumn("n_opt_params",
        floor(sqrt(col("flops_exa").cast("double") * 1e18
          / lit(6.0 * tokensPerParam))).cast("long"))
      .withColumn("d_opt_tokens", col("n_opt_params") * tokensPerParam)
      .withColumn("epochs_needed_ppm",
        expr("(d_opt_tokens * 1000000L) div corpus_tokens"))
      .withColumn("feasible",
        col("epochs_needed_ppm") <= maxEpochs * 1000000L)
      .select(col("flops_exa"), col("n_opt_params"), col("d_opt_tokens"),
        col("corpus_tokens"), col("epochs_needed_ppm"), col("feasible"))
  }

  /** DoReMi-flavored domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining" —
    * public paper, see PAPERS.md): upweight the domains on which the
    * proxy model's loss exceeds the reference, here approximated with
    * the engine's own add-1 bigram LM ([[TextAnalysis.bigramLpm]]) as
    * the proxy — per-domain mean NLL vs the corpus mean NLL is the
    * excess-loss signal. The update is ONE LINEARIZED multiplicative-
    * weights step, factor = 1 + η·excess (the small-η expansion of
    * DoReMi's exp(η·excess); exp is not a cross-engine-deterministic
    * seam — the ICWS log-domain discipline), floored at 0, applied to
    * the baseline bigram-mass share and renormalized — every step
    * exact integer micro/ppm arithmetic with truncating divs, so the
    * mix is bit-identical on any engine and the oracle replays it.
    *
    * Scale shape: the LM relations shuffle per [[TextAnalysis
    * .bigramLogProb]]; everything after is a |domains|-row relation.
    *
    * @return (domain, n_docs, n_bigrams, nll_micro, excess_micro,
    *         base_ppm, factor_ppm, weight_ppm). */
  def domainReweight(docs: DataFrame, etaPpm: Long = 5000000L,
                     domainCol: String = "lang", idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    require(etaPpm > 0, "etaPpm must be > 0")
    val lpm = TextAnalysis.bigramLpm(docs, docs, 1.0, idCol, textCol)
    val dom = docs.select(col(idCol).as("doc_id"),
      col(s"`$domainCol`").as("domain"))
    val nd = dom.groupBy("domain").agg(count(lit(1)).as("n_docs"))
    val per = lpm.join(dom, "doc_id")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("s"))
      .join(nd, "domain")
    domainReweightFromSums(per, etaPpm)
  }

  /** Stateless per-bigram scoring rows (domain, lpm) for
    * [[domainReweightFromSums]] — train relations come from the BATCH
    * `train` side, the scored side may be a STREAMING DataFrame (all
    * joins are stream-static; the caller adds the one streaming
    * aggregation). */
  def domainLpmRows(docs: DataFrame, train: DataFrame,
                    domainCol: String = "lang", idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    TextAnalysis.bigramLpmKeep(docs, train, 1.0, idCol, textCol,
      keep = Seq(domainCol))
      .select(col(s"`$domainCol`").as("domain"), col("lpm"))

  /** The |domains|-row tail of [[domainReweight]] over precomputed
    * per-domain sums (domain, n_docs, n_bigrams, s = Σ lpm_micro) —
    * shared by the batch path and the streaming variant (which
    * produces the sums as its ONE streaming aggregation). */
  def domainReweightFromSums(per: DataFrame,
                             etaPpm: Long = 5000000L): DataFrame = {
    require(etaPpm > 0, "etaPpm must be > 0")
    val overall = per.agg(sum(col("n_bigrams")).as("nb_all"),
      sum(col("s")).as("s_all"))
    val pr = per.crossJoin(broadcast(overall))
      .withColumn("nll_micro", -expr("s div n_bigrams"))
      .withColumn("excess_micro",
        col("nll_micro") - (-expr("s_all div nb_all")))
      .withColumn("base_ppm", expr("(n_bigrams * 1000000L) div nb_all"))
      .withColumn("factor_ppm", greatest(lit(0L),
        lit(1000000L) + expr(s"(${etaPpm}L * excess_micro) div 1000000L")))
      .withColumn("alpha_raw", expr("(base_ppm * factor_ppm) div 1000000L"))
    pr.crossJoin(broadcast(pr.agg(sum(col("alpha_raw")).as("t"))))
      .select(col("domain"), col("n_docs"), col("n_bigrams"),
        col("nll_micro"), col("excess_micro"), col("base_ppm"),
        col("factor_ppm"),
        expr("(alpha_raw * 1000000L) div t").as("weight_ppm"))
  }

  /** Weighted sampling WITHOUT replacement, k rows per group —
    * Efraimidis–Spirakis (IPL 2006) exponential keys: each row draws
    * u ∈ (0,1] from its salted id hash and ranks by u^(1/w), i.e. by
    * `ln(u)/w` descending. Deterministic like everything here: u is a
    * pure function of (salt, id), so the sample is reproducible on any
    * partitioning and replayable by the oracle.
    *
    * FP discipline (the BM25 precedent): the one transcendental, ln(u),
    * is rounded to 6 dp BEFORE the divide; the key is then a single
    * IEEE-754 division of identical doubles in every engine. Ties (same
    * rounded key) break on id ascending.
    *
    * Scale shape: hash + key are row-local; ranking is a window
    * PARTITIONED by the group columns; non-positive weights are
    * excluded (sampling mass zero).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, groupCols: Seq[String] = Nil,
                     salt: String = "ws0"): DataFrame = {
    require(k > 0, "k must be positive")
    val u = (md5Low32Col(concat_ws(":", col(s"`$idCol`").cast("string"), lit(salt)))
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    val key = round(log(u), 6) / col(s"`$weightCol`").cast("double")
    val keyed = df.filter(col(s"`$weightCol`") > 0)
      .withColumn("__key", key)
    if (groupCols.isEmpty) {
      // TakeOrdered path — no global window
      keyed.orderBy(col("__key").desc, col(s"`$idCol`")).limit(k)
        .withColumn("sample_key", round(col("__key"), 6)).drop("__key")
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(c => col(s"`$c`")): _*)
        .orderBy(col("__key").desc, col(s"`$idCol`"))
      keyed.withColumn("__pos", row_number().over(w))
        .filter(col("__pos") <= k)
        .withColumn("sample_key", round(col("__key"), 6))
        .drop("__key", "__pos")
    }
  }
}
