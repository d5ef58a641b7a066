package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Importance
import graft.functions.TextFunctions._

import Shared._

/** Data-mixture planning: importance resampling, epoch and temperature
  * mixing, stratified and weighted samples, per-domain caps. */
object MixtureQueries {

  /** DSIR (Xie et al. 2023): Gumbel top-20 importance resample of the
    * document corpus toward its English subset's hashed-bigram
    * distribution. */
  private def dsirSampleQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Importance.resample(docs, docs.filter(col("lang") === "en"), n = 20)
      .orderBy("rank")
  }

  /** d_dsir_sample: replay DSIR importance resampling — hashed
    * unigram+bigram buckets (md5_low32(feat) % 1024), add-1-smoothed
    * log-ratio of target (lang='en') vs raw bucket distributions in
    * floor/ceil-half-away micro-units, exact BIGINT per-doc sums,
    * salted-hash Gumbel top-20. */
  private def dsirSampleSql: String = {
    val (m, n, salt) = (1024, 20, "dsir0")
    val rhaSql = (e: String) =>
      s"CAST(CASE WHEN $e >= 0 THEN floor($e + 0.5) ELSE ceil($e - 0.5) END AS BIGINT)"
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    [x FOR x IN string_split_regex(lower(trim(text)), '\\s+') IF x <> ''] AS w
       |  FROM documents),
       |f AS (
       |  SELECT doc_id, lang, unnest(
       |    [('u:' || x) FOR x IN w] ||
       |    CASE WHEN len(w) >= 2
       |         THEN [('b:' || w[i] || ' ' || w[i + 1]) FOR i IN range(1, len(w))]
       |         ELSE [] END) AS feat
       |  FROM d),
       |fb AS (
       |  SELECT doc_id, lang,
       |    CAST((md5_number_lower(feat) & 4294967295) % $m AS BIGINT) AS bucket,
       |    count(*) AS n
       |  FROM f GROUP BY doc_id, lang, bucket),
       |cr AS (SELECT bucket, sum(n) AS c FROM fb GROUP BY bucket),
       |ct AS (SELECT bucket, sum(n) AS c FROM fb WHERE lang = 'en' GROUP BY bucket),
       |tr AS (SELECT sum(n) AS t FROM fb),
       |tt AS (SELECT sum(n) AS t FROM fb WHERE lang = 'en'),
       |lam AS (
       |  SELECT bucket, ${rhaSql("l")} AS lw
       |  FROM (
       |    SELECT r.bucket,
       |      ln(CAST((coalesce(t2.c, 0) + 1) * (tr.t + $m) AS DOUBLE) /
       |         CAST((r.c + 1) * (tt.t + $m) AS DOUBLE)) * 1000000 AS l
       |    FROM cr r LEFT JOIN ct t2 USING (bucket), tr, tt)),
       |sc AS (SELECT doc_id, sum(n * lw) AS s FROM fb JOIN lam USING (bucket) GROUP BY doc_id),
       |ky AS (
       |  SELECT doc_id, s, s + ${rhaSql("g")} AS key
       |  FROM (
       |    SELECT dd.doc_id, coalesce(sc.s, 0) AS s,
       |      -ln(-ln((CAST((md5_number_lower(CAST(dd.doc_id AS VARCHAR) || ':$salt')
       |                     & 4294967295) AS DOUBLE) + 0.5) / 4294967296.0)) * 1000000 AS g
       |    FROM documents dd LEFT JOIN sc USING (doc_id)))
       |SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, CAST(s AS DOUBLE) / 1000000.0 AS logw_r,
       |  CAST(key AS DOUBLE) / 1000000.0 AS key_r
       |FROM (SELECT * FROM ky ORDER BY key DESC, doc_id LIMIT $n)
       |ORDER BY rank""".stripMargin
  }

  /** Web-corpus curation: synthesize deterministic URLs over documents
    * (the lake has no URL column; both engines build identical strings,
    * the PII-query pattern), decompose them, cap per registered domain
    * by salted-hash order, report kept counts + id checksum — the
    * CCNet-style crawl-balancing shape. The checksum pins the exact
    * kept SET, so the oracle verifies the cap's selection, not just its
    * size.
    */
  private def domainCapQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Web
    val docs = t(s, dir, "documents").withColumn("url",
      concat(
        when(col("doc_id") % 4 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 5 === 0, lit(".co.uk")).otherwise(lit(".com")),
        when(col("doc_id") % 7 === 0, lit(":8080")).otherwise(lit("")),
        lit("/doc/"), col("doc_id").cast("string")))
    val capped = Web.perDomainCap(Web.withUrlParts(docs, "url"),
      maxPerDomain = 8, idCol = "doc_id", salt = "crawlmix")
    capped.groupBy(col("url_domain"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("url_domain")
  }

  /** w_domain_cap: replay URL synthesis → host regex → registered
    * domain → salted-hash per-domain cap. Same regex text in RE2 as in
    * Java regex; md5 hex ordering is byte-identical across engines.
    */
  private def domainCapSql: String = {
    val psl = graft.operators.Web.TwoLevelSuffixes.map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 4 = 0 THEN 'http://' ELSE 'https://' END) ||
       |    (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
       |    source ||
       |    (CASE WHEN doc_id % 5 = 0 THEN '.co.uk' ELSE '.com' END) ||
       |    (CASE WHEN doc_id % 7 = 0 THEN ':8080' ELSE '' END) ||
       |    '/doc/' || CAST(doc_id AS VARCHAR) AS url
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, lower(nullif(regexp_extract(url,
       |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^@/?#]*@)?([^/?#:]+)', 1), '')) AS host
       |  FROM u),
       |d AS (
       |  SELECT doc_id,
       |    CASE WHEN host IS NULL THEN NULL
       |         WHEN len(string_split(host, '.')) <= 2 THEN host
       |         WHEN (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1])
       |              IN ($psl)
       |           THEN string_split(host, '.')[-3] || '.' ||
       |                string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |         ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
       |    END AS url_domain
       |  FROM h),
       |r AS (
       |  SELECT doc_id, url_domain,
       |    row_number() OVER (PARTITION BY url_domain
       |      ORDER BY md5('crawlmix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |  FROM d WHERE url_domain IS NOT NULL)
       |SELECT url_domain, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM r WHERE rk <= 8 GROUP BY url_domain ORDER BY url_domain""".stripMargin
  }

  /** Compute-optimal plan
    * ([[graft.operators.Sampling.chinchillaPlan]]): the Chinchilla
    * N-opt / D-opt table over an exaFLOP budget grid vs this corpus's
    * token supply under the 4-epoch repeat ceiling. */
  private def chinchillaPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.chinchillaPlan(t(s, dir, "documents"),
      token_count(col("text")))
      .orderBy("flops_exa")

  /** x_chinchilla_plan: replay the compute-optimal table — corpus
    * token aggregate, floor(sqrt(C/120)) per exaFLOP budget (sqrt is
    * IEEE-correctly-rounded, the temperatureMix seam), truncating
    * epochs-needed ppm vs the 4-epoch ceiling. */
  private def chinchillaPlanSql: String =
    raw"""WITH ct AS (
       |  SELECT CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS corpus_tokens
       |  FROM documents),
       |grid AS (SELECT CAST(unnest([1, 10, 100, 1000]) AS BIGINT) AS flops_exa),
       |pl AS (
       |  SELECT flops_exa,
       |    CAST(floor(sqrt(CAST(flops_exa AS DOUBLE) * 1e18 / 120.0)) AS BIGINT) AS n_opt_params
       |  FROM grid)
       |SELECT pl.flops_exa, pl.n_opt_params,
       |  pl.n_opt_params * 20 AS d_opt_tokens,
       |  ct.corpus_tokens,
       |  (pl.n_opt_params * 20 * 1000000) // ct.corpus_tokens AS epochs_needed_ppm,
       |  (pl.n_opt_params * 20 * 1000000) // ct.corpus_tokens <= 4000000 AS feasible
       |FROM pl, ct ORDER BY pl.flops_exa""".stripMargin

  /** Data-constrained mixing plan
    * ([[graft.operators.Sampling.epochCappedPlan]]): the t_token_budget
    * desired shares with the ≤4-epoch repeat cap applied — per-bucket
    * exact-integer epochs, capped actual allocation, and the shortfall
    * the planner must source elsewhere. */
  private def mixEpochsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.epochCappedPlan(t(s, dir, "documents"),
      Seq("source", "lang"), token_count(col("text")),
      budget = 100000L, maxEpochs = 4)
      .orderBy("source", "lang")

  /** d_mix_epochs: replay the epoch-capped allocation — isq ppm weights,
    * budget·ppm desired, min(4·10⁶, desired·10⁶ // n) micro-epochs,
    * capped actual and shortfall, all truncating BIGINT `//`. */
  private def mixEpochsSql: String =
    s"""WITH $sqrtWeightCtes,
      |g AS (SELECT CAST(sum(isq) AS BIGINT) AS sisq FROM q),
      |p AS (SELECT source, lang, n_docs, n_tokens,
      |        isq * 1000000 // sisq AS weight_ppm FROM q, g),
      |e AS (SELECT *, CAST(100000 AS BIGINT) * weight_ppm // 1000000 AS desired_tokens
      |      FROM p),
      |m AS (SELECT *,
      |        CASE WHEN n_tokens = 0 THEN 0
      |             ELSE least(4000000, desired_tokens * 1000000 // n_tokens) END
      |          AS epochs_micro
      |      FROM e)
      |SELECT source, lang, n_docs, n_tokens, weight_ppm, desired_tokens,
      |  CAST(epochs_micro AS DOUBLE) / 1000000.0 AS epochs_r,
      |  n_tokens * epochs_micro // 1000000 AS actual_tokens,
      |  desired_tokens - (n_tokens * epochs_micro // 1000000) AS shortfall
      |FROM m ORDER BY source, lang""".stripMargin

  /** LLM-pipeline: deterministic stratified sample (training mix). The
    * id checksum pins the exact selected set — membership is a pure
    * function of (doc_id, salt), so DuckDB selects the same rows. */
  private def stratifiedSampleStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      t(s, dir, "documents"), "lang",
      fractions = Map("en" -> 0.5, "zh" -> 0.25),
      defaultFraction = 0.1, idCol = "doc_id", salt = "mix1")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang")

  /** d_stratified_sample: recompute the deterministic sample membership
    * (md5_low32(doc_id:salt) < floor(fraction·2³²), per-lang thresholds
    * mirroring Sampling.stratifiedSample with the query's mix). */
  private def stratifiedSampleSql: String = {
    def thr(f: Double) = math.floor(f * 4294967296.0).toLong
    s"""SELECT lang, count(*) AS n_sampled,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM documents
       |WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || ':mix1') & 4294967295)
       |      < CASE lang WHEN 'en' THEN ${thr(0.5)} WHEN 'zh' THEN ${thr(0.25)}
       |                  ELSE ${thr(0.1)} END
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Source-concentration report — the corpus-diversity screen next to
    * the per-domain cap: token share of the top source, of the top 5,
    * and the Herfindahl index Σshare² (1/n_sources = uniform, 1.0 =
    * single-source), all exact integer ppm (squares summed as DECIMAL —
    * n_i² overflows a long at web scale). The per-source relation is
    * BOUNDED by the source domain, so the one collect_list is safe at
    * any row count. */
  private def sourceConcentrationQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.token_count
    val per = t(s, dir, "documents")
      .groupBy("source").agg(sum(token_count(col("text"))).as("n_tok"))
    per.agg(count(lit(1)).as("n_sources"),
        sum(col("n_tok")).as("total_tokens"),
        sum(expr("CAST(n_tok AS DECIMAL(19,0)) * CAST(n_tok AS DECIMAL(19,0))"))
          .as("ss"),
        sort_array(collect_list(struct(col("n_tok"), col("source"))),
          asc = false).as("arr"))
      .select(col("n_sources"), col("total_tokens"),
        (expr("element_at(arr, 1).n_tok * 1000000 div total_tokens")
          .cast("double") / 1e6).as("top1_share"),
        (expr("aggregate(slice(arr, 1, 5), 0L, (a, x) -> a + x.n_tok)" +
          " * 1000000 div total_tokens").cast("double") / 1e6).as("top5_share"),
        (expr("CAST(ss * 1000000 AS DECIMAL(38,0)) div " +
          "(CAST(total_tokens AS DECIMAL(19,0)) * CAST(total_tokens AS DECIMAL(19,0)))")
          .cast("double") / 1e6).as("hhi"))
  }

  private def sourceConcentrationSql: String =
    """WITH p AS (SELECT source,
      |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY 1),
      |t AS (SELECT count(*) AS n_sources, CAST(sum(n_tok) AS BIGINT) AS total,
      |      sum(CAST(n_tok AS HUGEINT) * n_tok) AS ss FROM p),
      |r AS (SELECT n_tok, row_number() OVER (ORDER BY n_tok DESC, source) AS rn FROM p)
      |SELECT t.n_sources, t.total AS total_tokens,
      |  CAST(((SELECT n_tok FROM r WHERE rn = 1) * 1000000) // t.total AS BIGINT) / 1000000.0 AS top1_share,
      |  CAST(((SELECT CAST(sum(n_tok) AS BIGINT) FROM r WHERE rn <= 5) * 1000000) // t.total AS BIGINT) / 1000000.0 AS top5_share,
      |  CAST((t.ss * 1000000) // (CAST(t.total AS HUGEINT) * t.total) AS BIGINT) / 1000000.0 AS hhi
      |FROM t""".stripMargin

  /** LLM-pipeline: Efraimidis–Spirakis weighted sampling without
    * replacement — 5 docs per lang, weight = n_chars; the exponential
    * keys are pure functions of (salt, doc_id), so the drawn set is
    * engine-replayable.
    */
  private def weightedSampleQ(s: SparkSession, dir: String): DataFrame = {
    graft.operators.Sampling.weightedSample(
      t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
      idCol = "doc_id", weightCol = "n_chars", k = 5, groupCols = Seq("lang"))
      .orderBy("lang", "doc_id")
  }

  // d_weighted_sample: Efraimidis–Spirakis keys — u from the salted id
  // hash, ln(u) rounded to 6 dp BEFORE the divide by weight (the BM25
  // transcendental discipline), top-5 per lang by key desc, id asc.
  private def weightedSampleSql: String =
    """WITH k AS (
      |  SELECT lang, doc_id, n_chars,
      |    round(ln((CAST((md5_number_lower(CAST(doc_id AS VARCHAR) || ':ws0') & 4294967295) AS DOUBLE) + 1.0)
      |             / 4294967296.0), 6) / CAST(n_chars AS DOUBLE) AS key
      |  FROM documents WHERE n_chars > 0)
      |SELECT lang, doc_id, n_chars, round(key, 6) AS sample_key FROM k
      |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) <= 5
      |ORDER BY lang, doc_id""".stripMargin

  /** LLM-pipeline: temperature-flattened (τ=0.5) mixture sampling across
    * the 20 sources at a 30% token budget; checksums pin the exact
    * sampled set per source.
    */
  private def temperatureMixQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Sampling.temperatureMixture(docs, "source", "n_chars", "doc_id", 0.3)
      .groupBy("source").agg(
        count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast("long").as("tokens_sampled"),
        round(first(col("mix_rate")), 6).as("mix_rate"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("source")
  }

  /** d_temperature_mix: replay τ=0.5 mixture rates — sqrt quantized to
    * integer micro-units so the normalizing sum is order-independent,
    * then the one fixed-shape rate expression and salted-hash
    * membership. */
  private def temperatureMixSql: String =
    """WITH tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n FROM documents GROUP BY source),
      |w AS (SELECT source, n,
      |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS isq
      |      FROM tot),
      |g AS (SELECT CAST(sum(isq) AS BIGINT) AS sisq, CAST(sum(n) AS BIGINT) AS t_all FROM w),
      |r AS (SELECT source, n,
      |        least(1.0, floor(CAST(g.t_all AS DOUBLE) * 0.3) * CAST(isq AS DOUBLE)
      |                   / CAST(g.sisq AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
      |      FROM w, g),
      |kept AS (SELECT d.source, d.doc_id, d.n_chars, r.rate
      |         FROM documents d JOIN r USING (source)
      |         WHERE (md5_number_lower(CAST(doc_id AS VARCHAR) || ':mix0') & 4294967295)
      |               < CAST(floor(rate * 4294967296.0) AS BIGINT))
      |SELECT source, count(*) AS n_sampled,
      |  CAST(sum(n_chars) AS BIGINT) AS tokens_sampled,
      |  round(rate, 6) AS mix_rate, CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM kept GROUP BY source, rate ORDER BY source""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("d_dsir_sample", dsirSampleQ, dsirSampleSql),
    QuerySpec("w_domain_cap", domainCapQ, domainCapSql),
    QuerySpec("x_chinchilla_plan", chinchillaPlanQ, chinchillaPlanSql),
    QuerySpec("d_mix_epochs", mixEpochsQ, mixEpochsSql),
    QuerySpec("d_stratified_sample", stratifiedSampleStats, stratifiedSampleSql),
    QuerySpec("w_source_concentration", sourceConcentrationQ, sourceConcentrationSql),
    QuerySpec("d_weighted_sample", weightedSampleQ, weightedSampleSql),
    QuerySpec("d_temperature_mix", temperatureMixQ, temperatureMixSql))
}
