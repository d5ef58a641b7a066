package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.TextAnalysis
import graft.functions.TextFunctions._

import Shared._

/** Per-document text metrics and corpus token statistics: lengths,
  * n-grams, keyword extraction, readability, normalisation and PII
  * scrubbing. */
object TextQueries {

  /** t_cms_freq: rebuild the depth-3 × width-16 Count-Min cells
    * (salted md5_low32 mod width, counts additive) and every per-token
    * min-cell estimate next to the exact count. */
  private def cmsFreqSql: String =
    """WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
      |cells AS (SELECT i AS cms_row,
      |            (md5_number_lower(tok || ':cms' || i) & 4294967295) % 16 AS cms_col,
      |            count(*) AS cnt
      |          FROM toks, unnest([0, 1, 2]) AS t(i) GROUP BY 1, 2),
      |exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok),
      |pos AS (SELECT e.tok, i AS cms_row,
      |          (md5_number_lower(e.tok || ':cms' || i) & 4294967295) % 16 AS cms_col
      |        FROM exact e, unnest([0, 1, 2]) AS t(i)),
      |est AS (SELECT tok, min(coalesce(c.cnt, 0)) AS est_n
      |        FROM pos LEFT JOIN cells c USING (cms_row, cms_col) GROUP BY tok)
      |SELECT e.tok, e.exact_n, est.est_n
      |FROM exact e JOIN est USING (tok) ORDER BY tok""".stripMargin

  private val stopList = "'the','a','an','of','to','and','in','is','it','on','for','with','as','at','by','or','be','this','that'"

  private def textMetrics(s: SparkSession, dir: String): DataFrame = {
    val txt = col("text")
    t(s, dir, "documents").select(col("doc_id"),
      length(txt).cast("long").as("n_chars"),
      token_count(txt).cast("long").as("n_tokens"),
      round(punct_ratio(txt), 6).as("punct_r"),
      round(stopword_ratio(txt), 6).as("stopword_r"),
      round(mean_token_len(txt), 6).as("mean_tok_len"),
      doc_fingerprint(txt).as("fingerprint"))
      .orderBy("doc_id")
  }

  private def textMetricsSql: String =
    s"""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) END AS n_tokens,
       |  round(CASE WHEN length(text) = 0 THEN 0
       |        ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END, 6) AS punct_r,
       |  round(CASE WHEN len(string_split_regex(lower(trim(text)), '\\s+')) = 0 THEN 0
       |        ELSE CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($stopList))) AS DOUBLE)
       |             / len(string_split_regex(lower(trim(text)), '\\s+')) END, 6) AS stopword_r,
       |  round(CASE WHEN len(string_split_regex(trim(text), '\\s+')) = 0 THEN 0
       |        ELSE CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w))) AS DOUBLE)
       |             / len(string_split_regex(trim(text), '\\s+')) END, 6) AS mean_tok_len,
       |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
       |FROM documents ORDER BY doc_id""".stripMargin

  private def tokenFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  private def tokenFreqSql: String =
    """SELECT tok, count(*) AS n FROM (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents)
      |WHERE tok <> '' GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin

  /** Sliding-window chunking over documents (64-token windows, 16-token
    * overlap): the oracle replays the window arithmetic and list slicing
    * on the same whitespace tokens, chunk text compared verbatim. */
  private def chunkWindows(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.chunkDocuments(
        t(s, dir, "documents").filter(col("doc_id") % 7 === 3), 64, 16)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_start").cast("long").as("chunk_start"),
        col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        col("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  // sliding-window chunking: same tokens, same window arithmetic,
  // chunk text rebuilt by list slicing and compared verbatim
  private def chunkWindowsSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents WHERE doc_id % 7 = 3 AND trim(text) <> ''),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
      |c AS (SELECT doc_id, toks, n,
      |        unnest(generate_series(0,
      |          CASE WHEN n <= 64 THEN 0
      |               ELSE (n - 64 + 47) // 48 END)) AS chunk_idx
      |      FROM n)
      |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |  CAST(chunk_idx * 48 AS BIGINT) AS chunk_start,
      |  CAST(least(64, n - chunk_idx * 48) AS BIGINT) AS n_chunk_tokens,
      |  array_to_string(list_slice(toks, chunk_idx * 48 + 1,
      |    least(chunk_idx * 48 + 64, n)), ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Greedy per-shard sequence packing (512-token bins, 16 shards):
    * DuckDB replays the greedy state machine with a recursive CTE over
    * the same id-ordered shards, bins compared group-for-group. */
  private def packSeqs(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.packSequences(t(s, dir, "documents"), 512, 16)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .select(col("shard").cast("long").as("shard"),
        col("bin").cast("long").as("bin"),
        col("n_docs"), col("bin_tokens").cast("long").as("bin_tokens"),
        col("first_doc").cast("long").as("first_doc"),
        col("last_doc").cast("long").as("last_doc"))
      .orderBy("shard", "bin")

  // greedy per-shard packing: the engine's per-shard state machine
  // replayed as a recursive CTE (rn-ordered fold over each shard)
  private def packSeqsSql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id AS id, doc_id % 16 AS shard,
      |         len(string_split_regex(trim(text), '\s+')) AS n,
      |         row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rn
      |  FROM documents WHERE trim(text) <> ''),
      |rec AS (
      |  SELECT shard, rn, id, n, CAST(0 AS BIGINT) AS bin,
      |         CASE WHEN 512 - n > 0 THEN 512 - n ELSE 0 END AS rem
      |  FROM toks WHERE rn = 1
      |  UNION ALL
      |  SELECT t.shard, t.rn, t.id, t.n,
      |    CASE WHEN t.n <= r.rem THEN r.bin ELSE r.bin + 1 END,
      |    CASE WHEN t.n <= r.rem THEN r.rem - t.n
      |         WHEN 512 - t.n > 0 THEN 512 - t.n ELSE 0 END
      |  FROM toks t JOIN rec r ON t.shard = r.shard AND t.rn = r.rn + 1)
      |SELECT CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin,
      |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS bin_tokens,
      |  CAST(min(id) AS BIGINT) AS first_doc,
      |  CAST(max(id) AS BIGINT) AS last_doc
      |FROM rec GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  private def langQuality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.analyze(t(s, dir, "documents"))
      .join(t(s, dir, "documents").select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("lang_pred"))
      // decimal-exact mean of the (round-6) quality scores: FP-order-free,
      // so the oracle reproduces it bit-for-bit
      .agg(count(lit(1)).as("n"),
        round(sum(col("quality").cast(DecimalType(20, 6))).cast("double") /
          count(col("quality")), 6).as("avg_quality"))
      .orderBy("lang", "lang_pred")

  /** t_lang_quality: the n-gram-marker language heuristic + composite
    * quality score, grouped by (lang, lang_pred) — mirrors
    * TextFunctions.lang_id (non-overlapping marker counts, deterministic
    * argmax) and quality_score.
    */
  private def langQualitySql: String = {
    val punctR = "CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END"
    val stopR = s"CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x IN ($stopList))) AS DOUBLE) / len(string_split_regex(lower(trim(text)), '\\s+'))"
    s"""WITH ${langMarkerCtes("doc_id, lang, text")},
       |pred AS (
       |  SELECT t0.lang,
       |    CASE WHEN t0.text IS NULL OR trim(t0.text) = '' THEN 'und'
       |         WHEN length(regexp_replace(t0.t, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) * 2 > length(t0.t) THEN 'zh'
       |         ELSE m.marker_pred END AS lang_pred,
       |    round(
       |      (CASE WHEN ($nTokensSql) < 5 THEN CAST(($nTokensSql) AS DOUBLE) / 5.0
       |            WHEN ($nTokensSql) > 5000 THEN 0.5 ELSE 1.0 END) * 0.4
       |      + (1.0 - least(($punctR) * 2.0, 1.0)) * 0.3
       |      + least(($stopR) * 4.0, 1.0) * 0.3, 6) AS q
       |  FROM t0 JOIN marker m USING (doc_id))
       |SELECT lang, lang_pred, count(*) AS n,
       |  round(CAST(SUM(CAST(q AS DECIMAL(20,6))) AS DOUBLE) / count(q), 6) AS avg_quality
       |FROM pred GROUP BY lang, lang_pred
       |ORDER BY lang, lang_pred""".stripMargin
  }

  /** Winnowing fingerprints (rolling-hash document fingerprinting):
    * per-doc fingerprint count + checksum — DuckDB replays the k-gram
    * hashes and the window minima exactly. */
  private def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowFingerprints(
      t(s, dir, "documents").filter(col("doc_id") <= 50), k = 8, w = 4)
      .groupBy(col("id").cast("long").as("doc_id"))
      .agg(count(lit(1)).as("n_fp"), sum(col("fp")).as("fp_sum"))
      .orderBy("doc_id")

  // Winnowing replay: same k-gram md5-low32 hashes, same w-window min,
  // same full-window filter (k=8, w=4; min text length k+w-1=11).
  private def fingerprintSql: String =
    """WITH g AS (
      |  SELECT doc_id, p,
      |    CAST(md5_number_lower(substr(text, p + 1, 8)) & 4294967295 AS BIGINT) AS h
      |  FROM (
      |    SELECT doc_id, text, unnest(generate_series(0, length(text) - 8)) AS p
      |    FROM documents WHERE doc_id <= 50 AND length(text) >= 11)),
      |wmin AS (
      |  SELECT doc_id,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
      |    count(h) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS cnt
      |  FROM g),
      |fps AS (SELECT DISTINCT doc_id, fp FROM wmin WHERE cnt = 4)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, count(*) AS n_fp,
      |  CAST(sum(fp) AS BIGINT) AS fp_sum
      |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** §2.12 streaming heavy-hitters: the Count-Min cells maintained as a
    * plain streaming aggregation (additive counts → streamed == batch by
    * merge algebra), read back against the exact batch counts — same
    * output and oracle as `t_cms_freq`, proving the streamed sketch
    * converged to the batch sketch.
    */
  private def streamingCmsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.profile.CountMin
    val name = s"st_cms_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val toks = widenStream(stream)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    val spec = CountMin.CmsSpec(depth = 3, width = 16)
    runStreamNarrow(s)(graft.streaming.StreamingProfile.cmsStream(toks, "tok", spec)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    val cms = s.table(name)
    val exact = t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_n"))
    exact.join(CountMin.estimate(cms, exact.select("tok"), "tok", spec), "tok")
      .orderBy("tok")
  }

  /** LLM-pipeline: token-budget accounting per (source, lang) — corpus
    * shares, τ=0.5 temperature weights and the planned allocation of a
    * 100k-token budget. Counts exact; each ratio one IEEE division. */
  private def tokenBudgetQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.tokenBudgetPlan(t(s, dir, "documents"),
      Seq("source", "lang"), token_count(col("text")), budget = 100000L)
      .orderBy("source", "lang")

  /** t_token_budget: replay tokenBudgetPlan — whitespace token counts,
    * per-(source,lang) totals, isq = floor(sqrt(n)·10⁶) temperature
    * quantization, integer grand sums, then the same single-division
    * ratios (round 6) and floor(budget·isq/sisq) allocation with the
    * identical operation order so the doubles agree bitwise. */
  private def tokenBudgetSql: String =
    s"""WITH $sqrtWeightCtes,
      |g AS (SELECT CAST(sum(isq) AS BIGINT) AS sisq,
      |             CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM q)
      |SELECT source, lang, n_docs, n_tokens,
      |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS share,
      |  round(CAST(isq AS DOUBLE) / sisq, 6) AS weight,
      |  CAST(floor(CAST(100000 AS DOUBLE) * isq / sisq) AS BIGINT) AS planned_tokens,
      |  round(CAST(floor(CAST(100000 AS DOUBLE) * isq / sisq) AS DOUBLE) / n_tokens, 6)
      |    AS oversample
      |FROM q CROSS JOIN g
      |ORDER BY source, lang""".stripMargin

  /** LLM-pipeline: PII scrub over deterministic synthetic contact text
    * (the lake has no real PII; both engines synthesize the same strings
    * from customer keys, then redact independently). */
  private def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val withPii = t(s, dir, "customer").withColumn("text",
      concat(col("c_name"), lit(" reachable at user"), col("c_custkey"),
        lit("@example.com or +1 (555) 010-"),
        lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("c_custkey"), lit(256)).cast("string"),
        lit("."), pmod(col("c_custkey"), lit(100)).cast("string")))
    TextAnalysis.scrubPii(withPii)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_emails")).cast("long").as("emails"),
        sum(col("n_phones")).cast("long").as("phones"),
        sum(col("n_ips")).cast("long").as("ips"),
        min(col("text_clean")).as("sample_clean"))
      .orderBy("c_mktsegment")
  }

  /** t_pii_scrub: DuckDB synthesizes the same contact strings from
    * customer keys and redacts with the same RE2 patterns in the same
    * order (emails → IPv4 → phones, counts on progressively-scrubbed
    * text — mirrors TextAnalysis.scrubPii). */
  private def piiScrubSql: String = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
    def hitSum(c: String, re: String) =
      s"CAST(sum(len(string_split_regex($c, '$re')) - 1) AS BIGINT)"
    s"""WITH base AS (
       |  SELECT c_mktsegment,
       |    c_name || ' reachable at user' || c_custkey ||
       |    '@example.com or +1 (555) 010-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
       |    ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey % 100 AS VARCHAR) AS text
       |  FROM customer),
       |s1 AS (SELECT c_mktsegment, text,
       |         regexp_replace(text, '$email', '[EMAIL]', 'g') AS after_email FROM base),
       |s2 AS (SELECT *, regexp_replace(after_email, '$ip', '[IP]', 'g') AS after_ip FROM s1)
       |SELECT c_mktsegment, count(*) AS n_rows,
       |  ${hitSum("text", email)} AS emails,
       |  ${hitSum("after_ip", phone)} AS phones,
       |  ${hitSum("after_email", ip)} AS ips,
       |  min(regexp_replace(after_ip, '$phone', '[PHONE]', 'g')) AS sample_clean
       |FROM s2 GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
  }

  /** Corpus n-gram entropy rate
    * ([[graft.operators.TextAnalysis.ngramEntropy]]) — the
    * predictability screen beside t_zipf. */
  private def ngramEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.ngramEntropy(t(s, dir, "documents"))

  /** The exact micro-unit entropy terms c·round(ln(n/c), 6)·10⁶ as
    * `tm` per count `c` of `counts`, next to the total n. */
  private def entropyTerms(counts: String): String =
    s"""  FROM (SELECT c, CAST(sum(c) OVER () AS BIGINT) AS n,
       |          CAST(floor(CAST(c AS DOUBLE)
       |            * round(ln(CAST(sum(c) OVER () AS DOUBLE) / c), 6)
       |            * 1000000.0) AS BIGINT) AS tm
       |        FROM $counts))""".stripMargin

  // t_ngram_entropy: micro-nat terms floor(c·round6(ln(n/c))·1e6)
  // over the three bounded count relations; conditional = one
  // subtraction of the two rounded entropies
  private def ngramEntropySql: String =
    raw"""WITH tok AS (SELECT t FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS t FROM documents)
      |  WHERE t <> ''),
      |uc AS (SELECT count(*) AS c FROM tok GROUP BY t),
      |uh AS (SELECT CAST(any_value(n) AS BIGINT) AS n, count(*) AS nd,
      |    round(CAST(sum(tm) AS DOUBLE) / any_value(n) / 1000000.0, 6) AS h
      |${entropyTerms("uc")},
      |d AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
      |gg AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
      |       FROM d WHERE len(w) >= 2),
      |bc AS (SELECT count(*) AS c FROM gg GROUP BY g),
      |bh AS (SELECT CAST(any_value(n) AS BIGINT) AS n, count(*) AS nd,
      |    round(CAST(sum(tm) AS DOUBLE) / any_value(n) / 1000000.0, 6) AS h
      |${entropyTerms("bc")},
      |cc AS (SELECT count(*) AS c FROM (SELECT split_part(g, ' ', 1) AS w1 FROM gg) GROUP BY w1),
      |ch AS (SELECT round(CAST(sum(tm) AS DOUBLE) / any_value(n) / 1000000.0, 6) AS h
      |${entropyTerms("cc")}
      |SELECT uh.n AS n_tokens, uh.nd AS n_distinct_tokens, uh.h AS h_unigram,
      |  bh.n AS n_bigrams, bh.nd AS n_distinct_bigrams, bh.h AS h_bigram,
      |  round(bh.h - ch.h, 6) AS h_conditional
      |FROM uh, bh, ch""".stripMargin

  /** LLM-pipeline: collocation mining — top-20 adjacent-word pairs by
    * PMI over the corpus (6-dp ln of one exact-integer-product ratio).
    */
  private def collocationsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.collocations(t(s, dir, "documents"), k = 20)

  /** t_collocations: top-20 bigrams by PMI — exact counts, one integer-
    * product ratio, 6-dp ln, (pmi DESC, w1, w2) total order. */
  private def collocationsSql: String =
    """WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
      |uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM w) GROUP BY 1),
      |big AS (SELECT w1, w2, count(*) AS n_pair FROM (
      |    SELECT w[i] AS w1, w[i + 1] AS w2
      |    FROM w, unnest(range(1, len(w))) AS t(i))
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |n AS (SELECT sum(c) AS n_tok FROM uni)
      |SELECT b.w1, b.w2, b.n_pair,
      |  round(ln(CAST(n.n_tok * b.n_pair AS DOUBLE)
      |         / CAST(u1.c * u2.c AS DOUBLE)), 6) AS pmi
      |FROM big b JOIN uni u1 ON u1.t = b.w1 JOIN uni u2 ON u2.t = b.w2
      |CROSS JOIN n
      |ORDER BY pmi DESC, b.w1, b.w2 LIMIT 20""".stripMargin

  /** LLM-pipeline: Count-Min sketch vs exact token frequencies. Width 16
    * forces collisions on the 31-token vocabulary so the one-sided error
    * (est_n ≥ exact_n, never under) is visible and oracle-pinned.
    */
  private def cmsFreqQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.CountMin
    // balance before the token explode: the depth×width md5 cell hashing
    // ran as a 3.1 s single-task stage on the 1-split scan (guide §2.5)
    val toks = graft.sources.Lake.balance(t(s, dir, "documents"))
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
    val spec = CountMin.CmsSpec(depth = 3, width = 16)
    val cms = CountMin.build(toks, "tok", spec)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n"))
    exact.join(CountMin.estimate(cms, exact.select("tok"), "tok", spec), "tok")
      .orderBy("tok")
  }

  /** LLM-pipeline: top-100 bigram PMI collocations at min support 5
    * ([[operators.TextAnalysis.pmiCollocations]]) — the phrase-mining
    * signal for tokenizer vocab seeding. */
  private def pmiBigramsQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.pmiCollocations(t(s, dir, "documents"))
      .orderBy("rank")

  /** t_pmi_bigrams: replay the PMI collocation table — unigram/bigram
    * totals, min-support 5, the one fixed-shape double expression
    * (c12·Nu·Nu)/((c1·c2)·Nb) left-associated then ln, 6 dp, total-order
    * rank (pmi desc, w1, w2) capped at 100. */
  private def pmiBigramsSql: String =
    raw"""WITH tk AS (
       |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS t
       |  FROM documents),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |nuc AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM tk),
       |d AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
       |      WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
       |g AS (SELECT unnest(list_transform(range(1, len(w)),
       |        i -> {'w1': w[i], 'w2': w[i+1]})) AS s FROM d),
       |nbc AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM g),
       |bc AS (SELECT s.w1 AS w1, s.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM g GROUP BY 1, 2 HAVING count(*) >= 5),
       |sc AS (SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
       |         round(ln(CAST(bc.c12 AS DOUBLE) * CAST(nuc.nu AS DOUBLE) * CAST(nuc.nu AS DOUBLE)
       |           / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE) * CAST(nbc.nb AS DOUBLE))), 6) AS pmi
       |       FROM bc JOIN uni u1 ON u1.t = bc.w1 JOIN uni u2 ON u2.t = bc.w2, nuc, nbc),
       |r AS (SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank, *
       |      FROM sc)
       |SELECT rank, w1, w2, c12, c1, c2, pmi FROM r WHERE rank <= 100
       |ORDER BY rank""".stripMargin

  /** LLM-pipeline: TextRank top-20 keywords
    * ([[operators.TextAnalysis.textrankKeywords]]) — exact-integer
    * PageRank over the corpus word co-occurrence graph. */
  private def textrankQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.textrankKeywords(t(s, dir, "documents"))
      .orderBy("rank_pos")

  /** t_textrank_keywords: replay TextRank — the symmetrized distinct
    * bigram-adjacency graph on md5 word ids, 3 unrolled integer-ppm
    * PageRank iterations (the w_page_rank template), ranks joined back
    * to min(tok) per id, top-20 by (rank desc, tok). */
  private def textrankSql: String = {
    raw"""WITH d AS (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents
       |           WHERE len(string_split_regex(trim(text), '\s+')) >= 2),
       |bg AS (SELECT unnest(list_transform(range(1, len(w)),
       |         i -> {'w1': w[i], 'w2': w[i+1]})) AS s FROM d),
       |bw AS (SELECT s.w1 AS w1, s.w2 AS w2 FROM bg
       |       WHERE s.w1 <> '' AND s.w2 <> ''),
       |eids AS (SELECT CAST(md5_number_lower(w1) & 4294967295 AS BIGINT) AS src,
       |                CAST(md5_number_lower(w2) & 4294967295 AS BIGINT) AS dst
       |         FROM bw),
       |edges AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM eids UNION ALL SELECT dst, src FROM eids)
       |  WHERE src <> dst),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
       |$pageRankCtes,
       |words AS (
       |  SELECT CAST(md5_number_lower(tok) & 4294967295 AS BIGINT) AS node,
       |    min(tok) AS tok
       |  FROM (SELECT DISTINCT tok FROM (
       |          SELECT w1 AS tok FROM bw UNION ALL SELECT w2 FROM bw))
       |  GROUP BY 1)
       |SELECT CAST(row_number() OVER (ORDER BY r.r DESC, w.tok) AS BIGINT) AS rank_pos,
       |  w.tok, r.r AS rank_ppm
       |FROM r3 r JOIN words w USING (node)
       |QUALIFY rank_pos <= 20 ORDER BY rank_pos""".stripMargin
  }

  /** LLM-pipeline: Flesch–Kincaid readability per doc
    * ([[operators.TextAnalysis.readability]]) — exact word/sentence/
    * vowel-group syllable counts, the two classic scores. */
  private def readabilityQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.readability(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** t_readability: replay Flesch–Kincaid — sentence runs, vowel-group
    * syllables with the per-word floor, the two fixed-shape score
    * expressions mirrored verbatim. */
  private def readabilitySql: String =
    raw"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w,
       |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS words,
       |    CAST(sentences AS BIGINT) AS sentences,
       |    CAST(coalesce(list_sum(list_transform(w,
       |      x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))), 0) AS BIGINT)
       |      AS syllables,
       |    CAST(greatest(1, len(w)) AS DOUBLE) AS wd
       |  FROM w)
       |SELECT doc_id, words, sentences, syllables,
       |  round(0.39 * (wd / CAST(sentences AS DOUBLE))
       |    + 11.8 * (CAST(syllables AS DOUBLE) / wd) - 15.59, 6) AS fk_grade,
       |  round(206.835 - 1.015 * (wd / CAST(sentences AS DOUBLE))
       |    - 84.6 * (CAST(syllables AS DOUBLE) / wd), 6) AS flesch
       |FROM c ORDER BY doc_id""".stripMargin

  /** LLM-pipeline: per-doc TF-IDF top-5 terms (smooth idf, 6-dp-rounded
    * transcendental, term-ascending tiebreak). */
  private def tfidfTermsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.tfidfTopTerms(t(s, dir, "documents"), topK = 5)
      .orderBy("doc_id", "rank")

  /** t_tfidf_terms: smooth-idf TF-IDF with the BM25 determinism
    * discipline — the ln is rounded to 6 dp BEFORE the multiply. */
  private def tfidfTermsSql: String =
    """WITH tk AS (SELECT doc_id,
      |        unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
      |      FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
      |         round(tf.tf * round(ln((n.n_docs + 1.0) / (CAST(dfq.df AS DOUBLE) + 1.0)) + 1.0, 6), 6) AS score_r
      |       FROM tf JOIN dfq USING (term), n),
      |r AS (SELECT doc_id, term, tf, score_r,
      |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_r DESC, term) AS BIGINT) AS rank
      |      FROM sc)
      |SELECT doc_id, term, tf, score_r, rank FROM r WHERE rank <= 5
      |ORDER BY doc_id, rank""".stripMargin

  /** LLM-pipeline: per-doc repetition metrics (Gopher rule family). */
  private def repetitionMetricsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(
      t(s, dir, "documents").filter(col("doc_id") <= 200))
      .orderBy("doc_id")

  /** t_repetition: duplicate-word and top-bigram fractions (mirrors
    * TextAnalysis.repetitionMetrics; 2-shingles via the same ≤1-word
    * whole-text collapse as word_shingles). */
  private def repetitionSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
      |  WHERE doc_id <= 200),
      |g AS (SELECT doc_id, w,
      |        CASE WHEN len(w) <= 1 THEN [array_to_string(w, ' ')]
      |             ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END AS bg
      |      FROM d)
      |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |  round(CASE WHEN len(w) > 0
      |        THEN 1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) ELSE 0 END, 6) AS dup_word_frac,
      |  round(CASE WHEN len(bg) > 0
      |        THEN CAST(list_max(list_transform(list_distinct(bg), t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE)
      |             / len(bg) ELSE 0 END, 6) AS top_bigram_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** LLM-pipeline: n-gram novelty — fraction of each doc's distinct
    * 3-grams unique to it corpus-wide (df == 1). */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(t(s, dir, "documents"), n = 3)
      .filter(col("id") <= 100)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))
      .orderBy("doc_id")

  /** t_ngram_novelty: replay per-doc distinct 3-gram doc frequencies —
    * same shingle convention as the HLL oracle (short docs contribute
    * the whole text as one gram). */
  private def ngramNoveltySql: String =
    raw"""WITH ${shingle3Ctes("doc_id")},
      |gd AS (SELECT DISTINCT doc_id, gram FROM
      |        (SELECT doc_id, unnest(sh) AS gram FROM g)),
      |f AS (SELECT gram, count(*) AS df FROM gd GROUP BY gram),
      |agg AS (SELECT doc_id, count(*) AS n_grams,
      |          sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
      |        FROM gd JOIN f USING (gram) GROUP BY doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id, n_grams,
      |  CAST(n_novel AS BIGINT) AS n_novel,
      |  round(CAST(n_novel AS DOUBLE) / n_grams, 6) AS novelty
      |FROM agg WHERE doc_id <= 100 ORDER BY doc_id""".stripMargin

  /** LLM-pipeline: sequence-length histogram + padding waste at
    * max_len 64, 16-token bins — the packing-planning report. */
  private def lengthHistogramQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthHistogram(t(s, dir, "documents"),
        binTokens = 16, maxLen = 64)
      .orderBy("bin")

  /** t_length_histogram: replay token counts, 16-token bins, and
    * padding waste at max_len 64 — all integer floor division. */
  private def lengthHistogramSql: String =
    """WITH tk AS (
      |  SELECT CASE WHEN trim(text) = '' THEN 0
      |              ELSE len(string_split_regex(trim(text), '\s+')) END AS n
      |  FROM documents),
      |w AS (SELECT CAST(n AS BIGINT) AS n, n // 16 AS bin,
      |        ((n + 63) // 64) * 64 - n AS waste FROM tk)
      |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
      |  CAST(sum(n) AS BIGINT) AS total_tokens,
      |  CAST(sum(waste) AS BIGINT) AS padding_tokens,
      |  CASE WHEN sum(n) + sum(waste) = 0 THEN 0.0
      |       ELSE round(CAST(sum(waste) AS DOUBLE) / (sum(n) + sum(waste)), 6)
      |  END AS waste_ratio
      |FROM w GROUP BY bin ORDER BY bin""".stripMargin

  /** Tokenizer-vocab coverage: per-language OOV rate against the
    * corpus' top-10 token vocabulary
    * ([[graft.operators.TextAnalysis.vocabCoverage]]).
    */
  private def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.vocabCoverage(t(s, dir, "documents"), 10)
      .orderBy("lang")

  /** t_vocab_coverage: per-language OOV rate vs the corpus' top-10
    * tokens (freq desc, token asc tie-break — same vocab cut). */
  private def vocabCoverageSql: String =
    """WITH toks AS (SELECT lang, t AS tok FROM (
      |    SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |    FROM documents) WHERE t <> ''),
      |vocab AS (SELECT tok FROM (
      |  SELECT tok, count(*) AS c FROM toks GROUP BY 1
      |  ORDER BY c DESC, tok LIMIT 10)),
      |f AS (SELECT lang,
      |  CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END AS oov
      |  FROM toks)
      |SELECT lang, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
      |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
      |FROM f GROUP BY lang ORDER BY lang""".stripMargin

  /** Exact heavy hitters via the two-pass Misra–Gries pipeline
    * ([[graft.profile.HeavyHitters]]): suppliers carrying strictly more
    * than 1% of lineitem rows — candidate-pruned by a capacity-99 MG
    * summary, then exactly counted, so the output is deterministic
    * whatever the partitioning.
    */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.HeavyHitters.exact(t(s, dir, "lineitem"), "l_suppkey",
      k = 99, num = 1, den = 100)

  /** t_heavy_hitters: the exact >1%-of-rows suppliers — what the
    * MG-candidate + exact-count two-pass must reproduce verbatim. */
  private def heavyHittersSql: String =
    """WITH t AS (SELECT count(*) AS n FROM lineitem),
      |g AS (SELECT CAST(l_suppkey AS VARCHAR) AS key, count(*) AS n
      |      FROM lineitem GROUP BY 1)
      |SELECT g.key, g.n, round(CAST(g.n AS DOUBLE) / t.n, 6) AS share
      |FROM g, t WHERE g.n * 100 > t.n * 1
      |ORDER BY g.n DESC, g.key""".stripMargin

  /** Zipf-law conformance of the token frequency distribution
    * ([[graft.operators.TextAnalysis.zipfFit]]) — integer micro-log OLS.
    */
  private def zipfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.zipfFit(t(s, dir, "documents"))

  /** t_zipf: OLS of micro-quantized round-6 logs — exact integer
    * moments, two closing double divisions. */
  private def zipfSql: String =
    """WITH f AS (SELECT tok, count(*) AS f FROM (
      |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |    FROM documents) WHERE tok <> '' GROUP BY 1),
      |r AS (SELECT
      |    CAST(round(round(ln(CAST(row_number() OVER (ORDER BY f DESC, tok) AS DOUBLE)), 6) * 1000000, 0) AS BIGINT) AS lx,
      |    CAST(round(round(ln(CAST(f AS DOUBLE)), 6) * 1000000, 0) AS BIGINT) AS ly
      |  FROM f),
      |a AS (SELECT count(*) AS n, CAST(sum(lx) AS BIGINT) AS sx,
      |    CAST(sum(ly) AS BIGINT) AS sy, CAST(sum(lx * ly) AS BIGINT) AS sxy,
      |    CAST(sum(lx * lx) AS BIGINT) AS sxx, CAST(sum(ly * ly) AS BIGINT) AS syy
      |  FROM r)
      |SELECT n AS n_terms,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
      |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
      |            / CAST(n * sxx - sx * sx AS DOUBLE), 6) END AS slope,
      |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
      |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
      |            / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r2
      |FROM a""".stripMargin

  /** Corpus KPI card: one row a curation run reads first — volume,
    * language spread, exact-dup share via the normalized fingerprint.
    */
  private def corpusCardQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val d = t(s, dir, "documents").select(col("lang"),
      doc_fingerprint(col("text")).as("fp"),
      token_count(col("text")).cast("long").as("n_tok"))
    val dup = d.groupBy("fp").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(sum(col("c")).as("__d"))
      .select(coalesce(col("__d"), lit(0L)).as("n_dup_docs"))
    d.agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .crossJoin(dup)
      .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 6)
          .as("mean_tokens"))
  }

  /** t_corpus_card: one-row corpus KPI card — documents, tokens,
    * languages, exact-dup share via the normalized-content fingerprint,
    * mean length. */
  private def corpusCardSql: String =
    """WITH d AS (SELECT doc_id, lang, text,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
      |  FROM documents),
      |fpc AS (SELECT fp, count(*) AS c FROM d GROUP BY 1),
      |dup AS (SELECT CAST(sum(c) AS BIGINT) AS n_dup FROM fpc WHERE c > 1)
      |SELECT (SELECT count(*) FROM d) AS n_docs,
      |  (SELECT CAST(sum(n_tok) AS BIGINT) FROM d) AS n_tokens,
      |  (SELECT count(DISTINCT lang) FROM d) AS n_langs,
      |  coalesce(dup.n_dup, 0) AS n_dup_docs,
      |  round(CAST(coalesce(dup.n_dup, 0) AS DOUBLE)
      |      / (SELECT count(*) FROM d), 6) AS dup_rate,
      |  round(CAST((SELECT sum(n_tok) FROM d) AS DOUBLE)
      |      / (SELECT count(*) FROM d), 6) AS mean_tokens
      |FROM dup""".stripMargin

  /** Deterministic corpus text cleaning (NFC → control/format strip →
    * whitespace collapse, [[graft.functions.NormalizeFunctions]]) — each
    * doc gets a synthetic denormalized tail ([[CleanTail]]:
    * decomposed accent, zero-width space, C0 control, whitespace runs)
    * so all three stages fire on every row; the per-doc md5 of the
    * cleaned text pins the exact output bytes against DuckDB's
    * utf8proc-NFC + RE2 replay.
    */
  private def cleanNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"), lit(CleanTail))
    t(s, dir, "documents")
      .select(col("doc_id"), length(raw).cast("long").as("len_raw"),
        graft.functions.NormalizeFunctions.clean_text(raw).as("cleaned"))
      .select(col("doc_id"), col("len_raw"),
        length(col("cleaned")).cast("long").as("len_clean"),
        md5(col("cleaned")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Synthetic denormalized tail appended to every doc by
    * `t_clean_normalize` so each cleaning stage provably fires:
    * double spaces, decomposed e+COMBINING ACUTE (NFC composes),
    * zero-width space (Cf strip),  (C0 strip), tab + space runs.
    * Shared verbatim with the DuckDB oracle literal.
    */
  private val CleanTail: String = "  Cafe\u0301 \u200Bok\u0001!\t fin  "

  // cleaned bytes pinned per doc via md5 — utf8proc NFC + RE2 replay
  // of the Java-Normalizer + Java-regex chain (shared dialect subset)
  private def cleanNormalizeSql: String =
    s"""WITH c AS (SELECT doc_id, text || '$CleanTail' AS raw FROM documents),
       |d AS (SELECT doc_id, raw,
       |  trim(regexp_replace(regexp_replace(nfc_normalize(raw),
       |    '[\\x00-\\x08\\x0e-\\x1f\\x7f\\p{Cf}]', '', 'g'),
       |    '\\s+', ' ', 'g')) AS cleaned FROM c)
       |SELECT doc_id, CAST(length(raw) AS BIGINT) AS len_raw,
       |  CAST(length(cleaned) AS BIGINT) AS len_clean,
       |  md5(cleaned) AS clean_md5
       |FROM d ORDER BY doc_id""".stripMargin

  /** Unicode script-mix composition audit per claimed lang label
    * ([[graft.operators.TextAnalysis.scriptMix]]).
    */
  private def scriptMixQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.scriptMix(t(s, dir, "documents"))
      .orderBy("grp")

  // RE2 \p{Script} mirrors Java \p{IsScript} (same Unicode property)
  private def scriptMixSql: String =
    """WITH per AS (SELECT lang AS grp, CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS latin,
      |  CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS han,
      |  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digit,
      |  CAST(len(regexp_extract_all(text, '\s')) AS BIGINT) AS ws
      |  FROM documents)
      |SELECT grp, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  round(CAST(sum(latin) AS DOUBLE) / sum(n_chars), 6) AS latin_share,
      |  round(CAST(sum(han) AS DOUBLE) / sum(n_chars), 6) AS han_share,
      |  round(CAST(sum(digit) AS DOUBLE) / sum(n_chars), 6) AS digit_share,
      |  round(CAST(sum(ws) AS DOUBLE) / sum(n_chars), 6) AS ws_share,
      |  round(CAST(sum(n_chars) - sum(latin) - sum(han) - sum(digit)
      |    - sum(ws) AS DOUBLE) / sum(n_chars), 6) AS other_share
      |FROM per GROUP BY grp ORDER BY grp""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_text_metrics", textMetrics, textMetricsSql),
    QuerySpec("t_token_freq", tokenFreq, tokenFreqSql),
    QuerySpec("t_chunk_windows", chunkWindows, chunkWindowsSql),
    QuerySpec("t_pack_sequences", packSeqs, packSeqsSql),
    QuerySpec("t_lang_quality", langQuality, langQualitySql),
    QuerySpec("t_fingerprint", fingerprintQ, fingerprintSql),
    // streamed CMS must converge to the batch sketch — same oracle.
    QuerySpec("st_stream_cms", streamingCmsQ, cmsFreqSql),
    QuerySpec("t_token_budget", tokenBudgetQ, tokenBudgetSql),
    QuerySpec("t_pii_scrub", piiScrub, piiScrubSql),
    QuerySpec("t_ngram_entropy", ngramEntropyQ, ngramEntropySql),
    QuerySpec("t_collocations", collocationsQ, collocationsSql),
    QuerySpec("t_cms_freq", cmsFreqQ, cmsFreqSql),
    QuerySpec("t_pmi_bigrams", pmiBigramsQ, pmiBigramsSql),
    QuerySpec("t_textrank_keywords", textrankQ, textrankSql),
    QuerySpec("t_readability", readabilityQ, readabilitySql),
    QuerySpec("t_tfidf_terms", tfidfTermsQ, tfidfTermsSql),
    QuerySpec("t_repetition", repetitionMetricsQ, repetitionSql),
    QuerySpec("t_ngram_novelty", ngramNoveltyQ, ngramNoveltySql),
    QuerySpec("t_length_histogram", lengthHistogramQ, lengthHistogramSql),
    QuerySpec("t_vocab_coverage", vocabCoverageQ, vocabCoverageSql),
    QuerySpec("t_heavy_hitters", heavyHittersQ, heavyHittersSql),
    QuerySpec("t_zipf", zipfQ, zipfSql),
    QuerySpec("t_corpus_card", corpusCardQ, corpusCardSql),
    QuerySpec("t_clean_normalize", cleanNormalizeQ, cleanNormalizeSql),
    QuerySpec("t_script_mix", scriptMixQ, scriptMixSql))
}
