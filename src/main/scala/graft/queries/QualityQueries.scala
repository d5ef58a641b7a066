package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.operators.TextAnalysis
import graft.functions.TextFunctions._

import Shared._

/** Document quality models and curation funnels: n-gram LMs,
  * Naive Bayes and logistic-regression classifiers, C4 filters,
  * perplexity buckets and decontamination, each with its streamed twin. */
object QualityQueries {

  /** Deterministic page synthesis for the C4 queries (8-token lines,
    * residue-keyed terminal '.', injected code/lorem/policy lines) —
    * pure projections, so it runs identically on batch and streaming
    * inputs; the oracle rebuilds the same pages. */
  private def c4Pages(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"),
      split(trim(col("text")), "\\s+").as("w"))
    val lines = expr(
      """transform(sequence(0, ((size(w)+7) div 8) - 1),
        |  i -> concat(array_join(slice(w, i*8+1, 8), ' '),
        |              if((doc_id + i) % 4 <> 0, '.', '')))""".stripMargin)
    def inject(mod: Int, line: String) =
      when(col("doc_id") % mod === 0, typedLit(Seq(line)))
        .otherwise(typedLit(Seq.empty[String]))
    d.select(col("doc_id"), col("lang"),
      array_join(concat(lines,
        inject(23, "function() { return 1; }"),
        inject(29, "Lorem ipsum dolor sit amet."),
        inject(31, "this page contains unsafeword content.")), "\n").as("text"))
  }

  /** The per-language C4 rollup shared by the batch and streaming
    * variants — one aggregation over the [[c4Pages]]+c4Filter report. */
  private def c4Rollup(rep: DataFrame): DataFrame =
    rep.groupBy("lang")
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("pages_kept"),
        sum(col("n_lines")).as("lines_total"),
        sum(col("n_kept_lines")).as("lines_kept"),
        sum(col("kept_tokens")).as("kept_tokens"),
        sum(when(col("has_lorem"), 1L).otherwise(0L)).as("n_lorem"),
        sum(when(col("has_brace"), 1L).otherwise(0L)).as("n_brace"),
        sum(when(col("has_badword"), 1L).otherwise(0L)).as("n_badword"),
        sum(when(!col("keep") && !col("has_lorem") && !col("has_brace") &&
          !col("has_badword"), 1L).otherwise(0L)).as("n_too_few_lines"))
      .withColumn("kept_fraction",
        round(col("pages_kept").cast("double") / col("n_pages"), 6))

  /** LLM-pipeline: Gopher-style quality filter, reported per language. */
  private def lrQualityRules = TextAnalysis.QualityRules(
    minTokens = 30, maxTokens = 5000,
    minMeanTokenLen = 3.0, maxMeanTokenLen = 4.8, maxPunctRatio = 0.1)

  /** Shared CTE block for the t_lr_quality family: Gopher keep labels
    * (t_quality_filter's exact metric replay), hashed token-count
    * features + intercept dim 8, and 3 unrolled exact-integer
    * hard-sigmoid GD rounds (w0 = 0, η_micro = 1000) — every div a
    * truncating `//`, mirroring Spark `div`. Final weights CTE: w3. */
  private def lrRound(prev: String, out: String, lab: String = "lab",
                      nRel: String = "nn"): String =
    s"""z_$out AS MATERIALIZED (
       |  SELECT fx.id, CAST(sum(fx.x * w.w_micro) AS BIGINT) AS z
       |  FROM fx JOIN $prev w USING (dim) GROUP BY 1),
       |r_$out AS (
       |  SELECT z.id, l.y * 1000000 -
       |    least(1000000, greatest(0, z.z // 4 + 500000)) AS r
       |  FROM z_$out z JOIN $lab l ON l.id = z.id),
       |$out AS MATERIALIZED (
       |  SELECT w.dim, CAST(w.w_micro +
       |    ((coalesce(g.g, 0) // n.n) * 1000) // 1000000 AS BIGINT) AS w_micro
       |  FROM $prev w LEFT JOIN (
       |    SELECT fx.dim, CAST(sum(fx.x * r.r) AS BIGINT) AS g
       |    FROM fx JOIN r_$out r USING (id) GROUP BY 1) g ON g.dim = w.dim, $nRel n)""".stripMargin

  /** The Gopher-rule metrics of `text` (`TextAnalysis.qualityFilter`):
    * n_tokens, punctuation ratio `pr` and mean token length `mtl`, the
    * ratios rounded to 6 dp. */
  private val gopherMetricCols: String =
    raw"""    CASE WHEN length(trim(text)) = 0 THEN 0
       |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       |    round(CASE WHEN length(text) = 0 THEN 0
       |          ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS pr,
       |    round(CASE WHEN len(string_split_regex(trim(text), '\s+')) = 0 THEN 0
       |          ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'), w -> length(w))) AS DOUBLE)
       |               / len(string_split_regex(trim(text), '\s+')) END, 6) AS mtl""".stripMargin

  private def lrBaseCtes: String =
    raw"""m AS (
       |  SELECT doc_id,
       |$gopherMetricCols
       |  FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT doc_id AS id,
       |    CASE WHEN n_tokens >= 30 AND n_tokens <= 5000
       |          AND mtl >= 3.0 AND mtl <= 4.8 AND pr <= 0.1
       |         THEN 1 ELSE 0 END AS y
       |  FROM m),
       |tk AS (
       |  SELECT doc_id AS id,
       |    unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS tok
       |  FROM documents),
       |fx AS MATERIALIZED (
       |  SELECT id, CAST(md5_number_lower(tok) & 4294967295 AS BIGINT) % 8 AS dim,
       |    CAST(count(*) AS BIGINT) AS x
       |  FROM tk GROUP BY 1, 2
       |  UNION ALL
       |  SELECT doc_id, 8, 1 FROM documents),
       |w0 AS (SELECT CAST(unnest(range(0, 9)) AS BIGINT) AS dim, CAST(0 AS BIGINT) AS w_micro)""".stripMargin

  private def lrQualityCtes: String =
    s"""$lrBaseCtes,
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |${lrRound("w0", "w1")},
       |${lrRound("w1", "w2")},
       |${lrRound("w2", "w3")}""".stripMargin

  /** t_lr_quality: replay train + score + the score-decile × label
    * calibration histogram. */
  private def lrQualitySql: String =
    s"""WITH $lrQualityCtes,
       |sc AS (
       |  SELECT fx.id, CAST(sum(fx.x * w.w_micro) AS BIGINT) AS z,
       |    least(1000000, greatest(0, CAST(sum(fx.x * w.w_micro) AS BIGINT) // 4 + 500000)) AS score
       |  FROM fx JOIN w3 w USING (dim) GROUP BY fx.id)
       |SELECT sc.score // 100000 AS bucket, count(*) AS n_docs,
       |  CAST(sum(l.y) AS BIGINT) AS n_pos, CAST(sum(sc.z) AS BIGINT) AS z_checksum
       |FROM sc JOIN lab l ON l.id = sc.id
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Word bigrams of `src` docs, `word_shingles(2)`'s convention: `d`,
    * per-doc `g`(doc_id, bgs) with a ≤1-word text as one whole-text
    * gram, and the bigram counts `tb`(bg, c12) of ≥2-token docs. */
  private def bigramCtes(src: String): String =
    raw"""d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM $src),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(w) <= 1 THEN [array_to_string(w, ' ')]
       |             ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS bgs
       |      FROM d),
       |tb AS (SELECT bg, CAST(count(*) AS DOUBLE) AS c12
       |       FROM (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg
       |             FROM d WHERE len(w) >= 2) GROUP BY bg)""".stripMargin

  /** The bigram-LM score CTE chain over an arbitrary source relation
    * `src` (train = score = src, the t_lm_quality shape) — shared by
    * t_lm_quality, t_ppl_buckets (via the full statement) and the CCNet
    * funnel (mid-cascade over langid survivors). */
  private def lmScoreCtes(src: String): String =
    s"""${bigramCtes(src)},
       |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1 FROM tb GROUP BY w1),
       |vv AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
       |       FROM (SELECT unnest(w) AS tok FROM d) WHERE tok <> ''),
       |${lmScoreTail("(coalesce(tb.c12, 0) + 1.0) / (coalesce(ctx.c1, 0) + 1.0 * vv.v)",
         ", vv")}""".stripMargin

  /** The `sc` and `ag` CTEs that close a bigram-LM score: each bigram's
    * `ln(prob)` in micro units, rounded half away from zero, then each
    * doc's bigram count `n_bigrams` and mean `m`. `prob` reads `tb`,
    * `ctx` and whatever `joins` adds after the `ctx` join (the last of
    * it cross-joins the LM's scalar CTE). */
  private def lmScoreTail(prob: String, joins: String): String =
    s"""sc AS (
       |  SELECT s.doc_id,
       |    CAST(CASE WHEN l >= 0 THEN floor(l + 0.5) ELSE ceil(l - 0.5) END AS BIGINT) AS lpm
       |  FROM (
       |    SELECT s0.doc_id,
       |      ln($prob) * 1000000 AS l
       |    FROM (SELECT doc_id, unnest(bgs) AS bg FROM g) s0
       |    LEFT JOIN tb USING (bg)
       |    LEFT JOIN ctx ON ctx.w1 = split_part(s0.bg, ' ', 1)$joins) s),
       |ag AS (SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(sum(lpm) AS DOUBLE) / count(*) AS m
       |       FROM sc GROUP BY doc_id)""".stripMargin

  /** The NB trainer + confusion-matrix replay over a parameterized
    * scored-set predicate — shared by t_nb_langid (the held-out fifth)
    * and st_stream_nb (the whole corpus; streamed == batch). */
  private def nbConfusionSql(tePred: String): String =
    raw"""WITH tr AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
      |  FROM documents WHERE doc_id % 5 <> 0),
      |te AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS w
      |  FROM documents WHERE $tePred),
      |trtok AS (SELECT lang AS cls, unnest(w) AS word FROM tr),
      |gv AS (SELECT word FROM (SELECT word, count(*) AS gc FROM trtok GROUP BY word)
      |       ORDER BY gc DESC, word LIMIT 2000),
      |cw AS (SELECT cls, word, count(*) AS cnt FROM trtok JOIN gv USING (word)
      |       GROUP BY cls, word),
      |ct AS (SELECT cls, sum(cnt) AS tot FROM cw GROUP BY cls),
      |vs AS (SELECT count(*) AS v FROM gv),
      |nd AS (SELECT lang AS cls, count(*) AS ndc FROM tr GROUP BY 1),
      |ndt AS (SELECT count(*) AS ndt FROM tr),
      |cls AS (
      |  SELECT ct.cls,
      |    CAST(CASE WHEN lp >= 0 THEN floor(lp + 0.5) ELSE ceil(lp - 0.5) END AS BIGINT) AS prior_sc,
      |    CAST(CASE WHEN ld >= 0 THEN floor(ld + 0.5) ELSE ceil(ld - 0.5) END AS BIGINT) AS default_sc
      |  FROM (
      |    SELECT ct.cls, ct.tot,
      |      ln(CAST(ndc AS DOUBLE) / CAST(ndt AS DOUBLE)) * 1000000 AS lp,
      |      ln(1.0 / CAST(tot + v AS DOUBLE)) * 1000000 AS ld
      |    FROM ct JOIN nd USING (cls), vs, ndt) ct),
      |sc AS (
      |  SELECT cls, word,
      |    CAST(CASE WHEN l >= 0 THEN floor(l + 0.5) ELSE ceil(l - 0.5) END AS BIGINT) AS sc
      |  FROM (
      |    SELECT cw.cls, cw.word,
      |      ln(CAST(cnt + 1 AS DOUBLE) / CAST(tot + v AS DOUBLE)) * 1000000 AS l
      |    FROM cw JOIN ct USING (cls), vs) s),
      |tetok AS (SELECT doc_id, word, count(*) AS tc
      |          FROM (SELECT doc_id, unnest(w) AS word FROM te) GROUP BY 1, 2),
      |lk AS (
      |  SELECT t.doc_id, c.cls, sum(coalesce(s.sc, c.default_sc) * t.tc) AS lk
      |  FROM tetok t CROSS JOIN cls c
      |  LEFT JOIN sc s ON s.word = t.word AND s.cls = c.cls
      |  GROUP BY 1, 2),
      |tot AS (
      |  SELECT te.doc_id, te.lang AS actual, c.cls,
      |    c.prior_sc + coalesce(lk.lk, 0) AS total_sc
      |  FROM te CROSS JOIN cls c
      |  LEFT JOIN lk ON lk.doc_id = te.doc_id AND lk.cls = c.cls),
      |pred AS (
      |  SELECT doc_id, actual, cls AS pred, total_sc,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY total_sc DESC, cls) AS rn
      |  FROM tot)
      |SELECT actual AS lang, pred, count(*) AS n_docs,
      |  CAST(sum(total_sc) AS BIGINT) AS score_sum
      |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** d_domain_reweight: replay the bigram-LM CTEs, per-lang NLL vs
    * corpus NLL in truncating micro divs, the linearized MW factor,
    * and the renormalized ppm weights. */
  private def domainReweightSql: String =
    s"""WITH ${lmScoreCtes("documents")},
       |doms AS (SELECT doc_id, lang AS domain FROM documents),
       |ndc AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs FROM doms GROUP BY 1),
       |per AS (
       |  SELECT doms.domain, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(sc.lpm) AS BIGINT) AS s
       |  FROM sc JOIN doms USING (doc_id) GROUP BY 1),
       |ov AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS nb_all,
       |         CAST(sum(s) AS BIGINT) AS s_all FROM per),
       |pr AS (
       |  SELECT per.domain, ndc.n_docs, per.n_bigrams,
       |    -(per.s // per.n_bigrams) AS nll_micro,
       |    -(per.s // per.n_bigrams) - (-(ov.s_all // ov.nb_all)) AS excess_micro,
       |    (per.n_bigrams * 1000000) // ov.nb_all AS base_ppm,
       |    greatest(0, 1000000 +
       |      (5000000 * (-(per.s // per.n_bigrams) - (-(ov.s_all // ov.nb_all)))) // 1000000)
       |      AS factor_ppm
       |  FROM per JOIN ndc USING (domain), ov),
       |ar AS (SELECT *, (base_ppm * factor_ppm) // 1000000 AS alpha_raw FROM pr),
       |tt AS (SELECT CAST(sum(alpha_raw) AS BIGINT) AS t FROM ar)
       |SELECT domain, n_docs, n_bigrams,
       |  CAST(nll_micro AS BIGINT) AS nll_micro,
       |  CAST(excess_micro AS BIGINT) AS excess_micro,
       |  CAST(base_ppm AS BIGINT) AS base_ppm,
       |  CAST(factor_ppm AS BIGINT) AS factor_ppm,
       |  CAST((alpha_raw * 1000000) // tt.t AS BIGINT) AS weight_ppm
       |FROM ar, tt ORDER BY domain""".stripMargin

  /** t_lm_quality: replay the add-1 bigram LM — word_shingles(2)
    * bigrams, train counts from ≥2-token docs ONLY (sub-2-token docs
    * would inject their whole-text collapse shingle), scored docs keep
    * the collapse (scores as unseen), context counts from the bigram
    * relation, unigram vocabulary. Log-probs become integer micro-units
    * via floor/ceil half-away rounding (bit-deterministic in both
    * engines, unlike round() built-ins, which disagree when the decimal
    * sum / count quotient lands exactly on a .5e-6 boundary — observed
    * at sf0.1), summed exactly; the mean re-rounds the same way. */
  private def lmQualitySql: String =
    s"""WITH ${lmScoreCtes("documents")}
       |SELECT doc_id, n_bigrams,
       |  (CASE WHEN m >= 0 THEN floor(m + 0.5) ELSE ceil(m - 0.5) END) / 1000000.0 AS avg_logprob_r
       |FROM ag ORDER BY doc_id""".stripMargin

  /** d_decontam_report: 3-gram overlap of corpus docs (id > 5) against
    * the eval set (id ≤ 5), mirroring Decontamination.overlapReport
    * (distinct shingles; ≤2-word docs collapse to one whole-text
    * shingle, same as word_shingles). */
  private def decontamSql: String =
    raw"""WITH ${shingle3Ctes("doc_id")},
      |ds AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM g WHERE doc_id > 5),
      |bs AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id <= 5),
      |counts AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY doc_id),
      |ov AS (SELECT doc_id, count(*) AS n_overlap FROM ds JOIN bs ON ds.s = bs.s GROUP BY doc_id)
      |SELECT c.doc_id AS id, c.n_shingles, coalesce(o.n_overlap, 0) AS n_overlap,
      |  round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / c.n_shingles, 6) AS overlap_frac,
      |  round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / c.n_shingles, 6) >= 0.2 AS contaminated
      |FROM counts c LEFT JOIN ov o USING (doc_id) ORDER BY id""".stripMargin

  /** t_c4_filters: rebuild the identical synthesized pages (8-token
    * lines, residue-keyed terminal '.', injected code/lorem/policy
    * lines) and replay the C4 line + page rules. */
  private def c4FiltersSql: String =
    """WITH d AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |p0 AS (SELECT doc_id, lang,
      |  list_transform(range(0, (len(w)+7)//8),
      |    i -> array_to_string(list_slice(w, i*8+1, i*8+8), ' ') ||
      |         CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END) AS lines
      |  FROM d),
      |pages AS (SELECT doc_id, lang, array_to_string(
      |    lines
      |    || CASE WHEN doc_id % 23 = 0 THEN ['function() { return 1; }'] ELSE []::VARCHAR[] END
      |    || CASE WHEN doc_id % 29 = 0 THEN ['Lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END
      |    || CASE WHEN doc_id % 31 = 0 THEN ['this page contains unsafeword content.'] ELSE []::VARCHAR[] END,
      |    chr(10)) AS text FROM p0),
      |rep AS (SELECT doc_id, lang,
      |  string_split(text, chr(10)) AS ls,
      |  list_filter(string_split(text, chr(10)), ln ->
      |    regexp_matches(trim(ln), '[.!?"]$')
      |    AND len(list_filter(string_split_regex(trim(ln), '\s+'), x -> x <> '')) >= 5
      |    AND NOT contains(lower(ln), 'javascript')) AS kept,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_brace,
      |  list_contains(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> ''), 'unsafeword') AS has_badword
      |  FROM pages),
      |agg AS (SELECT lang, len(ls) AS n_lines, len(kept) AS n_kept,
      |  coalesce(list_sum(list_transform(kept,
      |    ln -> len(list_filter(string_split_regex(trim(ln), '\s+'), x -> x <> '')))), 0) AS kt,
      |  has_lorem, has_brace, has_badword,
      |  (len(kept) >= 3 AND NOT has_lorem AND NOT has_brace AND NOT has_badword) AS keep FROM rep)
      |SELECT lang, count(*) AS n_pages,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS pages_kept,
      |  CAST(sum(n_lines) AS BIGINT) AS lines_total,
      |  CAST(sum(n_kept) AS BIGINT) AS lines_kept,
      |  CAST(sum(kt) AS BIGINT) AS kept_tokens,
      |  CAST(sum(CASE WHEN has_lorem THEN 1 ELSE 0 END) AS BIGINT) AS n_lorem,
      |  CAST(sum(CASE WHEN has_brace THEN 1 ELSE 0 END) AS BIGINT) AS n_brace,
      |  CAST(sum(CASE WHEN has_badword THEN 1 ELSE 0 END) AS BIGINT) AS n_badword,
      |  CAST(sum(CASE WHEN NOT keep AND NOT has_lorem AND NOT has_brace AND NOT has_badword
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_too_few_lines,
      |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_fraction
      |FROM agg GROUP BY lang ORDER BY lang""".stripMargin

  /** Bigram-LM quality scores (perplexity-style filtering): the corpus
    * is its own training set, the standard self-scoring setup. */
  private def lmQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bigramLogProb(docs, docs).orderBy("doc_id")
  }

  /** Kneser-Ney bigram quality scores
    * ([[graft.operators.TextAnalysis.knBigramLogProb]]): the KenLM/CCNet
    * smoothing next to `t_lm_quality`'s add-1 baseline, on the same
    * self-scoring setup. */
  private def knQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.knBigramLogProb(docs, docs).orderBy("doc_id")
  }

  /** t_kn_quality: replay interpolated Kneser-Ney (D=0.75) — bigram
    * types, the one-pass history aggregate (c1 mass + n1p distinct
    * continuations), continuation counts, type total; the probability
    * is the IDENTICAL left-to-right FP expression as the Spark side
    * (engines never re-associate), ln micro-rounds half-away, exact
    * BIGINT sums, the mean re-rounds — the lmScoreCtes seam with the
    * KN formula. */
  private def knQualitySql: String = {
    val knProb =
      """CASE WHEN ctx.c1 IS NOT NULL
        |           THEN greatest(coalesce(tb.c12, 0.0) - 0.75, 0.0) / ctx.c1
        |                + 0.75 * ctx.n1p / ctx.c1 * coalesce(cont.n1pc, 0.0) / tt.t
        |           ELSE coalesce(cont.n1pc, 0.0) / tt.t END""".stripMargin
    raw"""WITH ${bigramCtes("documents")},
      |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, sum(c12) AS c1,
      |          CAST(count(*) AS DOUBLE) AS n1p FROM tb GROUP BY 1),
      |cont AS (SELECT string_split(bg, ' ')[-1] AS w2,
      |           CAST(count(*) AS DOUBLE) AS n1pc FROM tb GROUP BY 1),
      |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tb),
      |${lmScoreTail(knProb, "\n    LEFT JOIN cont ON cont.w2 = string_split(s0.bg, ' ')[-1], tt")}
      |SELECT doc_id, n_bigrams,
      |  (CASE WHEN m >= 0 THEN floor(m + 0.5) ELSE ceil(m - 0.5) END) / 1000000.0 AS kn_avg_logprob_r
      |FROM ag ORDER BY doc_id""".stripMargin
  }

  /** Min-K% probability contamination screen
    * ([[graft.operators.TextAnalysis.minKProb]], Shi et al. 2023):
    * per-doc mean log-prob of the lowest-20% bigrams under the
    * `t_lm_quality` LM — the membership-inference detector a pipeline
    * runs for benchmark leakage the n-gram decontam misses. */
  private def minKProbQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.minKProb(docs, docs, kPct = 20).orderBy("doc_id")
  }

  /** t_min_k_prob: replay the Min-K% screen over the shared
    * lmScoreCtes lpm rows — per-doc rank by (lpm asc), k = max(1,
    * n·20 // 100), sum of the selected rows (equal-lpm rank splits are
    * sum-invariant), mean re-rounds half-away. */
  private def minKProbSql: String =
    s"""WITH ${lmScoreCtes("documents")},
       |rk AS (
       |  SELECT doc_id, lpm,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY lpm) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM sc),
       |sel AS (
       |  SELECT doc_id, max(n) AS n_bigrams,
       |    greatest(1, max(n) * 20 // 100) AS k_used,
       |    CAST(sum(CASE WHEN rn <= greatest(1, n * 20 // 100) THEN lpm END) AS BIGINT) AS s6
       |  FROM rk GROUP BY doc_id),
       |fin AS (SELECT doc_id, n_bigrams, k_used,
       |          CAST(s6 AS DOUBLE) / k_used AS m FROM sel)
       |SELECT doc_id, n_bigrams, CAST(k_used AS BIGINT) AS k_used,
       |  (CASE WHEN m >= 0 THEN floor(m + 0.5) ELSE ceil(m - 0.5) END) / 1000000.0 AS min_k_avg_r
       |FROM fin ORDER BY doc_id""".stripMargin

  /** Supervised language-ID by multinomial Naive Bayes
    * ([[graft.ml.NaiveBayes]]): train on doc_id%5!=0, score the held-out
    * fifth, report the confusion matrix with exact integer micro-nat
    * posterior checksums. On this synthetic corpus the per-lang word
    * mixes are near-identical, so the matrix concentrates on the
    * prior's majority class — the oracle pins the determinism contract
    * (capped vocab, Laplace micro-nat scores, tie-broken argmax), not
    * model quality. */
  private def nbLangIdQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.ml.NaiveBayes.predict(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "lang", "text", maxVocab = 2000)
      .groupBy(col("actual").as("lang"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("pred_sc")).as("score_sum"))
      .orderBy("lang", "pred")
  }

  /** t_nb_langid: replay the multinomial-NB trainer + scorer exactly —
    * train on doc_id%5<>0, capped vocab by (global count desc, word
    * asc), Laplace(+1) log-likelihoods and class priors micro-quantized
    * with the house half-away rounding, unseen words = the class
    * default ln(1/(tot+V)), BIGINT posterior sums, argmax ties to the
    * ascending class. Confusion matrix with exact micro-nat checksums. */
  private def nbLangIdSql: String = nbConfusionSql("doc_id % 5 = 0")

  /** §2.12 streaming decontamination: the n-gram eval-set leakage guard
    * running per micro-batch over streamed documents, static benchmark
    * side broadcast ([[graft.streaming.StreamingProfile.decontamReport]]).
    * Same split/params as `d_decontam_report` (guard = doc_id ≤ 5,
    * stream = doc_id > 5, 3-shingles, τ = 0.2), and the oracle IS that
    * batch report — streamed == batch is the pinned contract.
    */
  private def streamingDecontamQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_decontam_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") > 5)
    val bench = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") <= 5)
    runStreamNarrow(s)(graft.streaming.StreamingProfile.decontamReport(
        stream, bench, n = 3, threshold = 0.2)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("id")
  }

  /** Training-data attribution
    * ([[graft.ml.QualityDistill.tracinInfluence]]): TracIn influence
    * of each doc_id%5≠0 training doc on the held-out fifth under the
    * hard-sigmoid LR — the 15 most helpful and 15 most harmful docs. */
  private def tracinQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val labels = TextAnalysis.qualityFilter(docs, lrQualityRules)
      .select(col("doc_id").as("id"), col("keep").cast("long").as("y"))
    val infl = graft.ml.QualityDistill.tracinInfluence(
      graft.ml.QualityDistill.hashedFeatures(docs),
      labels.filter(col("id") % 5 =!= 0), labels.filter(col("id") % 5 === 0))
    def side(name: String, w: org.apache.spark.sql.expressions.WindowSpec) =
      infl.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 15)
        .select(lit(name).as("side"), col("rank"), col("id"), col("y"), col("infl"))
    side("helpful", Window.orderBy(col("infl").desc, col("id")))
      .unionByName(side("harmful", Window.orderBy(col("infl").asc, col("id"))))
      .orderBy("side", "rank")
  }

  /** d_tracin_influence: replay TracIn attribution — LR training
    * restricted to the doc_id%5<>0 split, per-round validation-mean
    * gradient u (truncating div by n_val), per-train-doc dot and the
    * (r//1000)·(dot//1000) influence accumulation, then the top/bottom
    * 15 tables. */
  private def tracinSql: String = {
    def inflRound(t: Int): String =
      s"""${lrRound(s"w${t - 1}", s"w$t", "trl", "ntr")},
         |rva_$t AS (
         |  SELECT z.id, l.y * 1000000 -
         |    least(1000000, greatest(0, z.z // 4 + 500000)) AS r
         |  FROM z_w$t z JOIN val l ON l.id = z.id),
         |u_$t AS MATERIALIZED (
         |  SELECT fx.dim, CAST(sum(fx.x * rv.r) AS BIGINT) // (SELECT nv FROM nv) AS u
         |  FROM fx JOIN rva_$t rv USING (id) GROUP BY fx.dim),
         |dot_$t AS (
         |  SELECT fx.id, CAST(sum(fx.x * u.u) AS BIGINT) AS dot
         |  FROM fx JOIN u_$t u USING (dim) GROUP BY 1),
         |i$t AS MATERIALIZED (
         |  SELECT i.id, i.y, CAST(i.infl + (r.r // 1000) * (d.dot // 1000) AS BIGINT) AS infl
         |  FROM i${t - 1} i JOIN r_w$t r USING (id) JOIN dot_$t d USING (id))""".stripMargin
    s"""WITH $lrBaseCtes,
       |trl AS MATERIALIZED (SELECT id, y FROM lab WHERE id % 5 <> 0),
       |val AS MATERIALIZED (SELECT id, y FROM lab WHERE id % 5 = 0),
       |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM trl),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM val),
       |i0 AS (SELECT id, y, CAST(0 AS BIGINT) AS infl FROM trl),
       |${inflRound(1)},
       |${inflRound(2)},
       |${inflRound(3)}
       |SELECT side, rank, id, CAST(y AS BIGINT) AS y, infl FROM (
       |  SELECT 'helpful' AS side,
       |    CAST(row_number() OVER (ORDER BY infl DESC, id) AS BIGINT) AS rank,
       |    id, y, infl FROM i3
       |  UNION ALL
       |  SELECT 'harmful' AS side,
       |    CAST(row_number() OVER (ORDER BY infl ASC, id) AS BIGINT) AS rank,
       |    id, y, infl FROM i3)
       |WHERE rank <= 15 ORDER BY side, rank""".stripMargin
  }

  /** Quality-classifier distillation ([[graft.ml.QualityDistill]]):
    * train the hard-sigmoid LR on hashed token counts against the
    * Gopher keep verdict (3 exact-integer GD rounds), then score the
    * whole corpus — reported as the score-decile × label calibration
    * histogram. */
  private def lrQualityQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = TextAnalysis.qualityFilter(docs, lrQualityRules)
      .select(col("doc_id").as("id"), col("keep").cast("long").as("y"))
    val feats = graft.ml.QualityDistill.hashedFeatures(docs)
    val w = graft.ml.QualityDistill.trainHardSigmoidLr(feats, labels)
    graft.ml.QualityDistill.scoreHardSigmoid(feats, w)
      .join(labels, "id")
      .groupBy(expr("score_micro div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(col("z_micro")).as("z_checksum"))
      .orderBy("bucket")
  }

  private def lrQualityWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = TextAnalysis.qualityFilter(docs, lrQualityRules)
      .select(col("doc_id").as("id"), col("keep").cast("long").as("y"))
    graft.ml.QualityDistill.trainHardSigmoidLr(
      graft.ml.QualityDistill.hashedFeatures(docs), labels)
  }

  /** The trained hard-sigmoid LR weight vector itself (9 rows: 8
    * hashed dims + intercept) — pins training bit-exactly. */
  private def lrQualityWeightsQ(s: SparkSession, dir: String): DataFrame =
    lrQualityWeights(s, dir).orderBy("dim")

  /** t_lr_quality_weights: the trained 9-row weight vector. */
  private def lrQualityWeightsSql: String =
    s"""WITH $lrQualityCtes
       |SELECT dim, w_micro FROM w3 ORDER BY dim""".stripMargin

  private def qualityFilterStats(s: SparkSession, dir: String): DataFrame = {
    val rules = TextAnalysis.QualityRules(
      minTokens = 30, maxTokens = 5000,
      minMeanTokenLen = 3.0, maxMeanTokenLen = 4.8, maxPunctRatio = 0.1)
    TextAnalysis.qualityFilter(t(s, dir, "documents"), rules)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"),
        sum((!col("ok_tokens")).cast("long")).as("n_fail_tokens"),
        sum((!col("ok_word_len")).cast("long")).as("n_fail_word_len"),
        sum((!col("ok_punct")).cast("long")).as("n_fail_punct"))
      .orderBy("lang")
  }

  /** t_quality_filter: Gopher-style rule filter counts per language
    * (mirrors TextAnalysis.qualityFilter with the query's thresholds;
    * rule comparisons on round-6 metrics on both sides). */
  private def qualityFilterSql: String =
    raw"""WITH m AS (
      |  SELECT lang,
      |$gopherMetricCols
      |  FROM documents),
      |f AS (
      |  SELECT lang,
      |    (n_tokens >= 30 AND n_tokens <= 5000) AS ok_tokens,
      |    (mtl >= 3.0 AND mtl <= 4.8) AS ok_word_len,
      |    (pr <= 0.1) AS ok_punct
      |  FROM m)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN ok_tokens AND ok_word_len AND ok_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      |  CAST(sum(CASE WHEN NOT ok_tokens THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_tokens,
      |  CAST(sum(CASE WHEN NOT ok_word_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_len,
      |  CAST(sum(CASE WHEN NOT ok_punct THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_punct
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** DoReMi-flavored mix update
    * ([[graft.operators.Sampling.domainReweight]]): per-language excess
    * bigram-LM loss vs the corpus mean, one exact-integer linearized
    * multiplicative-weights step on the baseline bigram-mass shares. */
  private def domainReweightQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.domainReweight(t(s, dir, "documents"))
      .orderBy("domain")

  /** LLM-pipeline: benchmark decontamination — per-doc 3-gram overlap of
    * the corpus (doc_id > 5) against the "eval set" (doc_id ≤ 5). */
  private def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Decontamination.overlapReport(
      docs.filter(col("doc_id") > 5), docs.filter(col("doc_id") <= 5),
      n = 3, threshold = 0.2)
      .orderBy("id")
  }

  /** End-to-end curation funnel — the per-stage survival table a corpus
    * build publishes (the "data card" funnel): all docs → Gopher-rule
    * quality filter → exact dedup (min-id keeper among SURVIVORS) →
    * eval-set n-gram decontamination, each stage reporting surviving
    * docs and tokens. Composes the engine's own operators
    * ([[graft.operators.TextAnalysis.qualityFilter]],
    * [[graft.functions.TextFunctions.doc_fingerprint]],
    * [[graft.operators.Decontamination.overlapReport]]) with the same
    * rule values their standalone queries pin, so every stage's
    * semantics are already independently oracle-verified. Scale shape:
    * one narrow projection, one fingerprint shuffle over survivors, one
    * shingle join against the broadcast eval set — each stage's count
    * is a 1-row aggregate, unioned. */
  private def curationFunnelQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{TextAnalysis, Decontamination}
    import graft.functions.TextFunctions.{doc_fingerprint, token_count}
    val docs = t(s, dir, "documents")
    val rules = TextAnalysis.QualityRules(
      minTokens = 30, maxTokens = 5000,
      minMeanTokenLen = 3.0, maxMeanTokenLen = 4.8, maxPunctRatio = 0.1)
    val s1 = TextAnalysis.qualityFilter(docs, rules)
      .filter(col("keep")).select(col("doc_id"), col("text"))
    // exact dedup among stage-1 survivors: keeper = min id per fingerprint
    val fp = s1.select(col("doc_id"), col("text"),
      doc_fingerprint(col("text")).as("fp"))
    val s2 = fp.join(fp.groupBy("fp").agg(min(col("doc_id")).as("keeper")), "fp")
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "text")
    // decontaminate survivors against the eval split (full-corpus
    // doc_id <= 5, 3-shingles, τ = 0.2 — the d_decontam_report params);
    // eval docs themselves overlap at 1.0 and drop here too
    val contaminated = Decontamination.overlapReport(
        s2, docs.filter(col("doc_id") <= 5), n = 3, threshold = 0.2)
      .filter(col("contaminated")).select(col("id").as("doc_id"))
    val s3 = s2.join(contaminated, Seq("doc_id"), "left_anti")
    def stage(df: DataFrame, idx: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(token_count(col("text"))), lit(0L)).cast("long").as("n_tokens"))
        .select(lit(idx).as("stage_id"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    stage(docs, 0, "all")
      .unionByName(stage(s1, 1, "quality"))
      .unionByName(stage(s2, 2, "exact_dedup"))
      .unionByName(stage(s3, 3, "decontam"))
      .orderBy("stage_id")
  }

  /** e2e_curation_funnel: replay the whole curation chain — Gopher-rule
    * quality filter (t_quality_filter's exact thresholds/rounding),
    * min-id exact dedup among SURVIVORS (d_exact_dup's fingerprint),
    * 3-shingle decontamination vs the doc_id ≤ 5 eval split
    * (d_decontam_report's shingle collapse and τ) — and report each
    * stage's surviving docs + tokens. */
  private def curationFunnelSql: String =
    raw"""WITH m AS (
      |  SELECT doc_id, text,
      |$gopherMetricCols
      |  FROM documents),
      |s1 AS (
      |  SELECT doc_id, text, n_tokens FROM m
      |  WHERE n_tokens >= 30 AND n_tokens <= 5000
      |    AND mtl >= 3.0 AND mtl <= 4.8 AND pr <= 0.1),
      |fp AS (
      |  SELECT doc_id, text, n_tokens,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |  FROM s1),
      |s2 AS (
      |  SELECT f.doc_id, f.text, f.n_tokens
      |  FROM fp f JOIN (SELECT fp, min(doc_id) AS keeper FROM fp GROUP BY fp) k
      |    ON f.fp = k.fp AND f.doc_id = k.keeper),
      |d2 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM s2),
      |g2 AS (SELECT doc_id,
      |         CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
      |              ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
      |       FROM d2),
      |ds AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM g2),
      |db AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents WHERE doc_id <= 5),
      |gb AS (SELECT doc_id,
      |         CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
      |              ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
      |       FROM db),
      |bs AS (SELECT DISTINCT unnest(sh) AS s FROM gb),
      |counts AS (SELECT doc_id, count(*) AS n_sh FROM ds GROUP BY doc_id),
      |ov AS (SELECT ds.doc_id, count(*) AS n_ov FROM ds JOIN bs ON ds.s = bs.s GROUP BY ds.doc_id),
      |cont AS (
      |  SELECT c.doc_id FROM counts c LEFT JOIN ov o USING (doc_id)
      |  WHERE round(CAST(coalesce(o.n_ov, 0) AS DOUBLE) / c.n_sh, 6) >= 0.2),
      |s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM cont))
      |SELECT * FROM (
      |  SELECT 0 AS stage_id, 'all' AS stage, count(*) AS n_docs,
      |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM m
      |  UNION ALL SELECT 1, 'quality', count(*), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s1
      |  UNION ALL SELECT 2, 'exact_dedup', count(*), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s2
      |  UNION ALL SELECT 3, 'decontam', count(*), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM s3)
      |ORDER BY stage_id""".stripMargin

  /** C4 page-cleaning funnel per language
    * ([[graft.operators.TextAnalysis.c4Filter]]). Pages are synthesized
    * deterministically from the token stream (8-token lines; line i gets
    * a terminal '.' when (doc_id+i) % 4 ≠ 0; code / lorem-ipsum /
    * policy-word lines injected by doc_id residue — the t_pii_scrub
    * synthesis precedent), so every rule actually discriminates on this
    * corpus; the oracle rebuilds the identical pages and replays the
    * rules. */
  private def c4FiltersQ(s: SparkSession, dir: String): DataFrame =
    c4Rollup(graft.operators.TextAnalysis.c4Filter(
      c4Pages(t(s, dir, "documents")),
      graft.operators.TextAnalysis.C4Rules(badWords = Seq("unsafeword"))))
      .orderBy("lang")

  /** CCNet head/middle/tail perplexity buckets per language
    * ([[graft.operators.TextAnalysis.perplexityBuckets]]) — per-bucket
    * doc counts, id checksums, and the decimal-exact mean LM score. */
  private def pplBucketsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Half-away-from-zero manual rounding (not round()): built-in round()
    // disagrees across engines when the quotient lands exactly on a .5e-6
    // boundary — same discipline as avg_logprob_r itself.
    val q = sum(col("avg_logprob_r").cast(DecimalType(20, 6))).cast("double") /
      count(lit(1)) * lit(1000000.0)
    graft.operators.TextAnalysis.perplexityBuckets(docs, docs)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_checksum"),
        (when(q >= 0, floor(q + 0.5)).otherwise(ceil(q - 0.5)) / lit(1000000.0))
          .as("avg_score"))
      .orderBy("lang", "bucket")
  }

  /** The t_lm_quality scores as `sc`, joined to each doc's language
    * (`sl`), ranked per language by (score DESC, doc_id) with the
    * language's doc count `nl` (`rk`). */
  private def pplRankCtes: String =
    s"""sc AS (SELECT * FROM ($lmQualitySql)),
       |sl AS (SELECT sc.doc_id, d.lang, sc.avg_logprob_r
       |  FROM sc JOIN documents d USING (doc_id)),
       |rk AS (SELECT *,
       |    row_number() OVER (PARTITION BY lang ORDER BY avg_logprob_r DESC, doc_id) AS rn,
       |    count(*) OVER (PARTITION BY lang) AS nl FROM sl)""".stripMargin

  /** t_ppl_buckets: the lmQuality replay as a subquery, per-language
    * positional tertiles over (score DESC, doc_id), decimal-exact mean. */
  private def pplBucketsSql: String =
    s"""WITH $pplRankCtes,
       |ag AS (SELECT lang,
       |  CASE WHEN rn*3 <= nl THEN 'head' WHEN rn*3 <= 2*nl THEN 'middle' ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       |  CAST(sum(CAST(avg_logprob_r AS DECIMAL(20,6))) AS DOUBLE) / count(*) * 1000000 AS q
       |FROM rk GROUP BY 1, 2)
       |SELECT lang, bucket, n_docs, id_checksum,
       |  (CASE WHEN q >= 0 THEN floor(q + 0.5) ELSE ceil(q - 0.5) END) / 1000000.0 AS avg_score
       |FROM ag ORDER BY lang, bucket""".stripMargin

  /** Sketch-cut perplexity tertiles
    * ([[graft.operators.TextAnalysis.perplexityBucketsSketch]]) — the
    * bounded-state scale path next to the exact `t_ppl_buckets`;
    * realized bucket populations are the sketch's visible accuracy
    * report. */
  private def pplBucketsSketchQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.TextAnalysis.perplexityBucketsSketch(docs, docs)
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("lang", "bucket")
  }

  /** t_ppl_buckets_sketch: the lm replay, per-language min-shift (the
    * relative-error sketch resolves near zero — see the operator
    * scaladoc), the HDR quantization (eqfreqBins' formula),
    * per-language cut buckets at ranks ⌈n/3⌉ and ⌈2n/3⌉ from the
    * cumulative walk, bucket-vs-cut integer comparisons. */
  private def pplBucketsSketchSql: String =
    s"""WITH ${lmScoreCtes("documents")},
       |sl0 AS (SELECT ag.doc_id, dd.lang,
       |    (CASE WHEN m >= 0 THEN floor(m + 0.5) ELSE ceil(m - 0.5) END) / 1000000.0 AS v0
       |  FROM ag JOIN documents dd USING (doc_id)),
       |mn AS (SELECT lang, min(v0) AS vmin FROM sl0 GROUP BY 1),
       |sl AS (SELECT sl0.doc_id, sl0.lang, sl0.v0 - mn.vmin AS v
       |  FROM sl0 JOIN mn USING (lang)),
       |qv AS (SELECT doc_id, lang,
       |    least(greatest(CAST(floor(v * 1e6) AS BIGINT),
       |      -4611686018427387904), 4611686018427387904) AS q
       |  FROM sl),
       |bk AS (SELECT doc_id, lang, (CASE WHEN q < 0 THEN -1 ELSE 1 END) *
       |    (CASE WHEN abs(q) < 32 THEN abs(q)
       |          ELSE (CAST(length(bin(abs(q))) - 1 AS BIGINT) - 4) * 32
       |               + (abs(q) >> (length(bin(abs(q))) - 1 - 5)) - 32 END) AS bucket
       |  FROM qv),
       |counts AS (SELECT lang, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
       |cum AS (SELECT lang, bucket, cnt,
       |    sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
       |    sum(cnt) OVER (PARTITION BY lang) AS n FROM counts),
       |dk AS (SELECT lang, bucket FROM cum CROSS JOIN (SELECT unnest(range(1, 3)) AS k)
       |  WHERE cum >= greatest((n * k + 2) // 3, 1)
       |    AND cum - cnt < greatest((n * k + 2) // 3, 1)),
       |ab AS (SELECT b.doc_id, b.lang,
       |    (SELECT count(*) FROM dk c WHERE c.lang = b.lang AND b.bucket > c.bucket) AS above
       |  FROM bk b)
       |SELECT lang,
       |  CASE WHEN above = 2 THEN 'head' WHEN above = 1 THEN 'middle' ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM ab GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Quality-signal agreement cross-tab: the Gopher-rule keep verdict ×
    * the CCNet perplexity tertile — the audit a curation run reads
    * before stacking both filters (do the statistical and the LM signal
    * agree, or does one drop what the other calls head-tier?). Same
    * rule values as `e2e_curation_funnel`, same tertiles as
    * `t_ppl_buckets`; oracle replays both cascades and the join. */
  private def qualityAgreementQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val rules = TextAnalysis.QualityRules(minTokens = 30, maxTokens = 5000,
      minMeanTokenLen = 3.0, maxMeanTokenLen = 4.8, maxPunctRatio = 0.1)
    val q = TextAnalysis.qualityFilter(docs, rules)
      .select(col("doc_id"), col("keep"))
    val b = TextAnalysis.perplexityBuckets(docs, docs)
      .select(col("doc_id"), col("bucket"))
    q.join(b, "doc_id")
      .groupBy("keep", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("keep", "bucket")
  }

  /** t_quality_agreement: replay the Gopher-rule keep verdict (the
    * curation funnel's m CTE) and the exact perplexity tertiles, then
    * the cross-tab. */
  private def qualityAgreementSql: String =
    s"""WITH m AS (SELECT doc_id,
       |$gopherMetricCols
       |  FROM documents),
       |kk AS (SELECT doc_id,
       |    (n_tokens >= 30 AND n_tokens <= 5000 AND mtl >= 3.0 AND mtl <= 4.8
       |     AND pr <= 0.1) AS keep FROM m),
       |$pplRankCtes,
       |bk AS (SELECT doc_id,
       |    CASE WHEN rn*3 <= nl THEN 'head' WHEN rn*3 <= 2*nl THEN 'middle'
       |         ELSE 'tail' END AS bucket FROM rk)
       |SELECT kk.keep, bk.bucket, count(*) AS n_docs,
       |  CAST(sum(kk.doc_id) AS BIGINT) AS id_checksum
       |FROM kk JOIN bk USING (doc_id)
       |GROUP BY 1, 2 ORDER BY keep, bucket""".stripMargin

  /** CCNet-shaped curation funnel (Wenzek et al. 2020) — the pipeline
    * the CCNet paper publishes, composed from the engine's own
    * operators: all docs → language-ID agreement
    * ([[graft.functions.TextFunctions.lang_id]] must match the tag) →
    * LM perplexity tertiles over the SURVIVORS with the tail dropped
    * ([[graft.operators.TextAnalysis.perplexityBuckets]]) → salted-hash
    * per-source cap (the per-domain-cap discipline with `source` as the
    * domain). Per-stage doc + token counts; the oracle replays the
    * whole cascade. Complements `e2e_curation_funnel` (Gopher-shaped:
    * quality rules → dedup → decontam). */
  private def ccnetFunnelQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{lang_id, token_count}
    val docs = t(s, dir, "documents")
    def stage(idx: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(token_count(col("text"))), lit(0L)).as("n_tokens"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    // materialized once: s2 otherwise re-runs the lang_id UDF scan for
    // every one of its ~8 downstream references (stage counts, the
    // LM's 4 passes, the s3 join, the cap)
    val s2 = docs.filter(lang_id(col("text")) === col("lang"))
      .localCheckpoint(true)
    val buckets = graft.operators.TextAnalysis.perplexityBuckets(s2, s2)
    val s3 = s2.join(
      buckets.filter(col("bucket") =!= "tail").select("doc_id"), "doc_id")
    val ord = md5(concat_ws(":", lit("ccnet"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(ord, col("doc_id"))
    val s4 = s3.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 8).drop("__rk")
    stage(1, "all", docs)
      .unionByName(stage(2, "langid_match", s2))
      .unionByName(stage(3, "ppl_head_middle", s3))
      .unionByName(stage(4, "source_cap", s4))
      .orderBy("stage_idx")
  }

  /** e2e_ccnet_funnel: replay the whole CCNet-shaped chain — marker
    * language-ID (t_lang_quality's CTEs) → agreement filter → bigram-LM
    * scores over the SURVIVORS (lmScoreCtes parameterized mid-cascade)
    * → per-language positional tertiles, tail dropped → salted-md5
    * per-source cap (w_domain_cap's ordering) — with per-stage doc and
    * token counts. */
  private def ccnetFunnelSql: String = {
    s"""WITH ${langMarkerCtes("doc_id, lang, source, text")},
       |pr AS (
       |  SELECT t0.doc_id, t0.lang, t0.source, t0.text,
       |    CASE WHEN t0.text IS NULL OR trim(t0.text) = '' THEN 'und'
       |         WHEN length(regexp_replace(t0.t, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 2 > length(t0.t) THEN 'zh'
       |         ELSE m.marker_pred END AS lang_pred
       |  FROM t0 JOIN marker m USING (doc_id)),
       |s2 AS (SELECT doc_id, lang, source, text FROM pr WHERE lang_pred = lang),
       |${lmScoreCtes("s2")},
       |rk AS (SELECT s2.doc_id, s2.lang, s2.source, s2.text,
       |    row_number() OVER (PARTITION BY s2.lang
       |      ORDER BY (CASE WHEN ag.m >= 0 THEN floor(ag.m + 0.5) ELSE ceil(ag.m - 0.5) END) DESC, s2.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY s2.lang) AS nl
       |  FROM s2 JOIN ag USING (doc_id)),
       |s3 AS (SELECT doc_id, lang, source, text FROM rk WHERE rn * 3 <= nl * 2),
       |s4 AS (SELECT doc_id, source, text FROM s3
       |  QUALIFY row_number() OVER (PARTITION BY source
       |    ORDER BY md5('ccnet:' || CAST(doc_id AS VARCHAR)), doc_id) <= 8)
       |SELECT CAST(1 AS BIGINT) AS stage_idx, 'all' AS stage, count(*) AS n_docs,
       |  CAST(coalesce(sum($nTokensSql), 0) AS BIGINT) AS n_tokens FROM documents
       |UNION ALL SELECT CAST(2 AS BIGINT), 'langid_match', count(*), CAST(coalesce(sum($nTokensSql), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT CAST(3 AS BIGINT), 'ppl_head_middle', count(*), CAST(coalesce(sum($nTokensSql), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT CAST(4 AS BIGINT), 'source_cap', count(*), CAST(coalesce(sum($nTokensSql), 0) AS BIGINT) FROM s4
       |ORDER BY stage_idx""".stripMargin
  }

  /** §2.12 C4 hygiene in INGEST position: the same page synthesis +
    * line/page rules + per-language rollup, but over a streaming scan —
    * [[graft.operators.TextAnalysis.c4Filter]] is a pure projection, so
    * it runs unchanged inside each micro-batch; ONE complete-mode
    * streaming aggregation builds the rollup. streamed == batch IS the
    * oracle contract (literally t_c4_filters' SQL). */
  private def streamingC4Q(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_c4_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    runStreamNarrow(s)(c4Rollup(graft.operators.TextAnalysis.c4Filter(
        c4Pages(stream),
        graft.operators.TextAnalysis.C4Rules(badWords = Seq("unsafeword"))))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("lang")
  }

  /** §2.12 LM quality scoring in INGEST position: documents stream
    * through [[graft.operators.TextAnalysis.bigramLogProb]] UNCHANGED —
    * the LM relations come from the static train corpus (stream-static
    * joins; the stream never shuffles for them) and the per-doc score
    * is ONE streaming aggregation + post-agg projection. streamed ==
    * batch IS the oracle (literally t_lm_quality's SQL). */
  private def streamingPplQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_ppl_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val train = s.read.parquet(s"$dir/documents.parquet")
    runStreamNarrow(s)(graft.operators.TextAnalysis.bigramLogProb(stream, train)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("doc_id")
  }

  /** §2.12 streaming domain-loss mix update: score the documents
    * STREAM against the batch-trained bigram LM (stream-static joins,
    * stateless), aggregate per-domain bigram counts + micro log-prob
    * sums as the ONE streaming aggregation, then apply the
    * [[graft.operators.Sampling.domainReweightFromSums]] MW tail
    * batch-side. Streamed == batch: the oracle is literally
    * d_domain_reweight's SQL. */
  private def streamingDomainsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_dom_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val batch = s.read.parquet(s"$dir/documents.parquet")
    runStreamNarrow(s)(graft.operators.Sampling.domainLpmRows(stream, batch)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("s"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val nd = batch.groupBy(col("lang").as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    graft.operators.Sampling.domainReweightFromSums(
      s.table(name).join(nd, "domain"))
      .orderBy("domain")
  }

  /** §2.12 streaming quality scoring: train the hard-sigmoid LR
    * batch-side ([[graft.ml.QualityDistill]]), score the documents
    * STREAM — per-token stateless broadcast weight lookup, ONE
    * streaming sum per doc (chained streaming aggregations are not
    * supported, so the count-then-multiply of the batch path becomes
    * an equivalent per-token weight sum; the intercept joins in batch
    * after the sink). Streamed == batch: the oracle is literally
    * t_lr_quality's SQL. */
  private def streamingLrQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_lr_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val labels = TextAnalysis.qualityFilter(docs, lrQualityRules)
      .select(col("doc_id").as("id"), col("keep").cast("long").as("y"))
    val w = graft.ml.QualityDistill.trainHardSigmoidLr(
      graft.ml.QualityDistill.hashedFeatures(docs), labels)
      .localCheckpoint(eager = true)
    // widen the micro-batch map side (guide §2.5): the tokenize+md5
    // pass otherwise runs on the scan's 1-2 splits (measured 1.4 s
    // single-task stage)
    runStreamNarrow(s)(widenStream(stream)
      .select(col("doc_id").as("id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("id"),
        (graft.functions.SketchFunctions.md5_low32(col("tok")) % 8).as("dim"))
      .join(broadcast(w), "dim")
      .groupBy("id").agg(sum(col("w_micro")).as("z_tok"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val w8 = w.filter(col("dim") === 8).select(col("w_micro").as("w_icept"))
    labels.join(s.table(name), Seq("id"), "left").crossJoin(broadcast(w8))
      .withColumn("z_micro", coalesce(col("z_tok"), lit(0L)) + col("w_icept"))
      .withColumn("score_micro", least(lit(1000000L), greatest(lit(0L),
        expr("z_micro div 4") + 500000L)))
      .groupBy(expr("score_micro div 100000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"),
        sum(col("z_micro")).as("z_checksum"))
      .orderBy("bucket")
  }

  /** §2.12 streaming classification: the documents relation streams in
    * and folds through the SINGLE per-(doc, class) token-likelihood
    * aggregation ([[graft.ml.NaiveBayes.tokenLikelihoods]] — one
    * streaming agg; the model relations join as broadcast statics); the
    * batch side then adds priors, takes the tie-broken argmax, and
    * reports the confusion matrix. Oracle = the full batch NB replay
    * over the same train/score split: streamed == batch. */
  private def streamingNbQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_nb_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val train = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 5 =!= 0)
    val (classes, scores) = graft.ml.NaiveBayes.model(train, "lang", "text", 2000)
    // widen the micro-batch map side (guide §2.5): the tokenize + model
    // join otherwise runs on the scan's single split (measured 0.86 s
    // one-task stage). Re-tried after the model checkpoint + narrow
    // state partitions landed — the r16 negative result predated both.
    runStreamNarrow(s)(graft.ml.NaiveBayes.tokenLikelihoods(widenStream(stream), classes, scores,
        "doc_id", "text", keep = Seq("lang"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("total_sc").desc, col("cls").asc)
    s.table(name)
      .join(broadcast(classes.select("cls", "prior_sc")), "cls")
      .withColumn("total_sc", col("prior_sc") + col("lk"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy(col("lang"), col("cls").as("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("total_sc")).as("score_sum"))
      .orderBy("lang", "pred")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_lm_quality", lmQuality, lmQualitySql),
    QuerySpec("t_kn_quality", knQuality, knQualitySql),
    QuerySpec("t_min_k_prob", minKProbQ, minKProbSql),
    QuerySpec("t_nb_langid", nbLangIdQ, nbLangIdSql),
    // streamed == batch IS the contract: the streaming guard must
    // reproduce the batch overlap report bit-for-bit
    QuerySpec("st_stream_decontam", streamingDecontamQ, decontamSql),
    QuerySpec("d_tracin_influence", tracinQ, tracinSql),
    QuerySpec("t_lr_quality", lrQualityQ, lrQualitySql),
    QuerySpec("t_lr_quality_weights", lrQualityWeightsQ, lrQualityWeightsSql),
    QuerySpec("t_quality_filter", qualityFilterStats, qualityFilterSql),
    QuerySpec("d_domain_reweight", domainReweightQ, domainReweightSql),
    QuerySpec("d_decontam_report", decontamReport, decontamSql),
    QuerySpec("e2e_curation_funnel", curationFunnelQ, curationFunnelSql),
    QuerySpec("t_c4_filters", c4FiltersQ, c4FiltersSql),
    QuerySpec("t_ppl_buckets", pplBucketsQ, pplBucketsSql),
    QuerySpec("t_ppl_buckets_sketch", pplBucketsSketchQ, pplBucketsSketchSql),
    QuerySpec("t_quality_agreement", qualityAgreementQ, qualityAgreementSql),
    QuerySpec("e2e_ccnet_funnel", ccnetFunnelQ, ccnetFunnelSql),
    // streamed == batch IS the oracle: the streaming C4 rollup must
    // equal the batch replay exactly
    QuerySpec("st_stream_c4", streamingC4Q, c4FiltersSql),
    // streamed == batch IS the oracle: per-doc LM scores computed in
    // micro-batches must equal the batch replay exactly
    QuerySpec("st_stream_ppl", streamingPplQ, lmQualitySql),
    // streamed == batch IS the oracle: the per-(doc, class) likelihood
    // aggregation folded over micro-batches must equal the batch replay
    QuerySpec("st_stream_domains", streamingDomainsQ, domainReweightSql), // streamed == batch
    QuerySpec("st_stream_lr", streamingLrQ, lrQualitySql), // streamed == batch
    QuerySpec("st_stream_nb", streamingNbQ, nbConfusionSql("TRUE")))
}
