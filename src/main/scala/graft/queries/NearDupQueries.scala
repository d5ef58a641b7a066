package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.functions.SketchFunctions._
import graft.functions.TextFunctions._

import Shared._

/** Near-duplicate detection with sketches: n-gram and weighted Jaccard,
  * MinHash / ICWS / SimHash signatures, LSH banding and its planning,
  * and the corpus dedup passes built on them. */
object NearDupQueries {

  /** d_minhash_lsh: 3-word-shingle MinHash near-dup pairs with the SAME
    * banding semantics as Dedup.minhashNearDups (bands of 5 consecutive
    * slots; a pair is a candidate iff some band matches in full), verified
    * at jaccard ≥ 0.05.
    */
  /** Shared CTE chain: per-doc 3-word-shingle MinHash digests (`dig`). */
  private def docDigCtes: String =
    s"""$permsCte,
       |d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
       |             ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
       |      FROM d),
       |sv AS (SELECT DISTINCT doc_id, unnest(sh) AS v FROM g),
       |mins AS (SELECT doc_id, pi, ${mhSlotMin("v")} AS mh
       |         FROM sv CROSS JOIN perms GROUP BY doc_id, pi),
       |dig AS (SELECT doc_id, list(mh ORDER BY pi) AS d FROM mins GROUP BY doc_id)""".stripMargin

  /** Digest agreement: estimated jaccard + full-band-of-5 match count. */
  private def digCompare(a: String, b: String): String =
    s"""CAST(len([i FOR i IN range(1, 101) IF $a.d[i] = $b.d[i]]) AS DOUBLE) / 100.0 AS jaccard,
       |    len([bb FOR bb IN range(0, 20) IF list_slice($a.d, 5*bb+1, 5*bb+5) = list_slice($b.d, 5*bb+1, 5*bb+5)]) AS nb""".stripMargin

  /** docDigCtes → banded candidate pairs (band agreement = candidate). */
  private def minhashPairCtes: String =
    s"""$docDigCtes,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${digCompare("a", "b")}
       |  FROM dig a JOIN dig b ON a.doc_id < b.doc_id)""".stripMargin

  /** d_icws_minhash: replay Ioffe ICWS in the log domain — md5
    * uniforms (low32 + 1)/2³², Gamma(2,1) r/c as negated sums of
    * 6dp-rounded lns (the weightedSample seam), exact dyadic β,
    * t_k = floor(round(ln w,6)/r + β), slot key ln(c)−r(t_k−β)−r (no
    * exp anywhere), argmin ties to ascending token — beside the exact
    * weighted Jaccard on the same tf·idf_micro weights. */
  /** The shared ICWS replay CTE block over a doc predicate: tf → idf
    * micros → wts → 32-slot log-domain ICWS keys → `sig` (id, k, s_tok,
    * s_tk). Used by d_icws_minhash and d_icws_neardups. */
  private def icwsSigCtes(pred: String, shingle: Int = 1): String = {
    def uref(j: Int) =
      s"((md5_number_lower(tok || ':icws:' || k || ':$j') & 4294967295) + 1.0) / 4294967296.0"
    // shingle = 1: whitespace unigrams; n > 1: word n-gram shingles with
    // the word_shingles short-doc whole-text collapse (docDigCtes shape)
    val tokSrc =
      if (shingle <= 1)
        raw"""SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
          |        FROM documents WHERE $pred""".stripMargin
      else {
        val cat = (0 until shingle).map(j => s"w[i+$j]").mkString(" || ' ' || ")
        raw"""SELECT doc_id,
          |          unnest(CASE WHEN len(w) <= ${shingle - 1} THEN [array_to_string(w, ' ')]
          |                 ELSE list_transform(range(1, len(w) - ${shingle - 2}), i -> $cat) END) AS tok
          |        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
          |              FROM documents WHERE $pred)""".stripMargin
      }
    raw"""tf AS (
      |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM ($tokSrc)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents WHERE $pred),
      |idf AS (
      |  SELECT tok,
      |    CAST(CASE WHEN l >= 0 THEN floor(l + 0.5) ELSE ceil(l - 0.5) END AS BIGINT) AS idfm
      |  FROM (SELECT tok,
      |          ln(CAST(nd.nd + 1 AS DOUBLE) / CAST(count(DISTINCT id) AS DOUBLE)) * 1000000 AS l
      |        FROM tf, nd GROUP BY tok, nd.nd)),
      |wts AS (SELECT id, tf.tok, tf.tf * idf.idfm AS w FROM tf JOIN idf ON idf.tok = tf.tok),
      |slots AS (SELECT id, tok, w, k FROM wts, unnest(range(0, 32)) AS t(k)),
      |s0 AS (
      |  SELECT id, tok, w, k,
      |    -(round(ln(${uref(1)}), 6) + round(ln(${uref(2)}), 6)) AS r,
      |    -(round(ln(${uref(3)}), 6) + round(ln(${uref(4)}), 6)) AS c,
      |    ${uref(5)} AS beta
      |  FROM slots),
      |s1 AS (
      |  SELECT id, tok, k, r, c, beta,
      |    CAST(floor(round(ln(CAST(w AS DOUBLE)), 6) / r + beta) AS BIGINT) AS tk
      |  FROM s0),
      |keys AS (
      |  SELECT id, tok, k, tk,
      |    round(ln(c), 6) - r * (CAST(tk AS DOUBLE) - beta) - r AS key
      |  FROM s1),
      |sig AS (
      |  SELECT id, k, tok AS s_tok, tk AS s_tk FROM keys
      |  QUALIFY row_number() OVER (PARTITION BY id, k ORDER BY key, tok) = 1)""".stripMargin
  }

  private def exactDup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicates(t(s, dir, "documents"))
      .select(col("fingerprint"), col("n_dups"), col("keeper"))
      .orderBy("fingerprint")

  private def exactDupSql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
      |  count(*) AS n_dups, min(doc_id) AS keeper
      |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.ngramJaccardPairs(docs, pairs, n = 2)
      .filter(col("jaccard") > 0)
      .orderBy("id_a", "id_b")
  }

  private def ngramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents WHERE doc_id <= 25
      |), g AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) <= 1 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END) AS sh
      |  FROM d)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |        / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh)) > 0
      |ORDER BY id_a, id_b""".stripMargin

  /** Weighted (tf) Jaccard on the same bounded pair grid as
    * `d_ngram_jaccard` ([[Dedup.weightedJaccardPairs]]): the multiset
    * ground truth tf-weighted dedup thresholds against — repeated
    * tokens count, so templated near-dups separate from genuinely
    * similar prose where set Jaccard conflates them. */
  private def weightedJaccardQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.weightedJaccardPairs(docs, pairs)
      .filter(col("wjaccard") > 0)
      .orderBy("id_a", "id_b")
  }

  // j5_weighted_jaccard: tf-multiset Jaccard Σmin/Σmax with
  // Σmax = tot_a + tot_b − Σmin (min + max = a + b per token);
  // exact BIGINT counts, one 6-dp division per pair.
  private def weightedJaccardSql: String =
    raw"""WITH tf AS (
      |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents WHERE doc_id <= 25)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |tot AS (SELECT id, CAST(sum(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
      |prs AS (SELECT a.id AS id_a, b.id AS id_b
      |        FROM (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id <= 25) a
      |        JOIN (SELECT DISTINCT doc_id AS id FROM documents WHERE doc_id <= 25) b
      |          ON a.id < b.id),
      |inter AS (
      |  SELECT p.id_a, p.id_b, CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
      |  FROM prs p
      |  JOIN tf a ON a.id = p.id_a
      |  JOIN tf b ON b.id = p.id_b AND b.tok = a.tok
      |  GROUP BY 1, 2)
      |SELECT p.id_a, p.id_b,
      |  round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |        / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) AS wjaccard
      |FROM prs p
      |JOIN tot ta ON ta.id = p.id_a
      |JOIN tot tb ON tb.id = p.id_b
      |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      |WHERE round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |      / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) > 0
      |ORDER BY p.id_a, p.id_b""".stripMargin

  /** Weighted-MinHash self-audit ([[Dedup.weightedMinHashDigests]] —
    * the tagged-copy expansion reduction): estimated weighted Jaccard
    * from 100-slot digests next to the exact Σmin/Σmax truth on every
    * bounded-grid pair, with per-pair absolute error — the d_lsh_quality
    * discipline for the weighted family. */
  private def weightedMinhashQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val dig = Dedup.weightedMinHashDigests(docs)
    val est = pairs
      .join(dig.select(col("id").as("id_a"), col("mh").as("mh_a")), "id_a")
      .join(dig.select(col("id").as("id_b"), col("mh").as("mh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(minhash_jaccard(col("mh_a"), col("mh_b")), 6).as("wj_est"))
    est.join(Dedup.weightedJaccardPairs(docs, pairs), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("wj_est"),
        col("wjaccard").as("wj_exact"),
        round(abs(col("wj_est") - col("wjaccard")), 6).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  /** d_weighted_minhash: replay the tagged-copy expansion ("tok#i" for
    * i in 1..tf), the standard 100-slot digest over the expanded
    * elements (permsCte/mhSlotMin machinery unchanged), slot-agreement
    * estimates, and the exact Σmin/Σmax weighted Jaccard beside them. */
  private def weightedMinhashSql: String =
    raw"""WITH $permsCte,
      |tf AS (
      |  SELECT doc_id AS id, tok, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |        FROM documents WHERE doc_id <= 25)
      |  WHERE tok <> '' GROUP BY 1, 2),
      |ex AS (SELECT id, tok, unnest(range(1, CAST(tf AS INTEGER) + 1)) AS i FROM tf),
      |el AS (SELECT id, tok || '#' || i AS v FROM ex),
      |mins AS (SELECT id, pi, ${mhSlotMin("v")} AS mh
      |         FROM el CROSS JOIN perms GROUP BY id, pi),
      |dig AS (SELECT id, list(mh ORDER BY pi) AS d FROM mins GROUP BY id),
      |est AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |    round(CAST(len([i FOR i IN range(1, 101) IF a.d[i] = b.d[i]]) AS DOUBLE) / 100.0, 6) AS wj_est
      |  FROM dig a JOIN dig b ON a.id < b.id),
      |tot AS (SELECT id, CAST(sum(tf) AS BIGINT) AS tot FROM tf GROUP BY 1),
      |inter AS (
      |  SELECT x.id_a, x.id_b, CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS smin
      |  FROM est x JOIN tf a ON a.id = x.id_a
      |  JOIN tf b ON b.id = x.id_b AND b.tok = a.tok
      |  GROUP BY 1, 2)
      |SELECT e.id_a, e.id_b, e.wj_est,
      |  round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |        / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) AS wj_exact,
      |  round(abs(e.wj_est - round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |    / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6)), 6) AS abs_err
      |FROM est e JOIN tot ta ON ta.id = e.id_a JOIN tot tb ON tb.id = e.id_b
      |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      |ORDER BY e.id_a, e.id_b""".stripMargin

  /** ICWS real-weight MinHash self-audit ([[Dedup.icwsSignatures]] on
    * [[Dedup.idfWeights]] tf·idf micros, K=32): per-pair signature
    * agreement vs the exact weighted Jaccard on the SAME weights —
    * the d_weighted_minhash audit where weights are no longer integer
    * token counts. */
  private def icwsMinhashQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // wide = false: this audit is a deliberate 25-doc slice — the
    // corpus-scale width pins cost more than they buy here (measured)
    val wts = Dedup.idfWeights(docs, wide = false)
    val sig = Dedup.icwsSignatures(wts, k = 32, wide = false)
    val est = pairs
      .join(sig.select(col("id").as("id_a"), col("k"),
        col("s_tok").as("ta"), col("s_tk").as("ka")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("k"),
        col("s_tok").as("tb"), col("s_tk").as("kb")), Seq("id_b", "k"))
      .groupBy("id_a", "id_b")
      .agg(round(sum(when(col("ta") === col("tb") &&
        col("ka") === col("kb"), 1L).otherwise(0L)).cast("double") / 32.0, 6)
        .as("wj_est"))
    est.join(Dedup.weightedJaccardOnWeights(wts, pairs), Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("wj_est"),
        col("wjaccard").as("wj_exact"),
        round(abs(col("wj_est") - col("wjaccard")), 6).as("abs_err"))
      .orderBy("id_a", "id_b")
  }

  private def icwsMinhashSql: String = {
    raw"""WITH ${icwsSigCtes("doc_id <= 25")},
      |ids AS (SELECT doc_id AS id FROM documents WHERE doc_id <= 25),
      |prs AS (SELECT a.id AS id_a, b.id AS id_b FROM ids a JOIN ids b ON a.id < b.id),
      |est AS (
      |  SELECT p.id_a, p.id_b,
      |    round(CAST(sum(CASE WHEN sa.s_tok = sb.s_tok AND sa.s_tk = sb.s_tk
      |      THEN 1 ELSE 0 END) AS DOUBLE) / 32.0, 6) AS wj_est
      |  FROM prs p JOIN sig sa ON sa.id = p.id_a
      |  JOIN sig sb ON sb.id = p.id_b AND sb.k = sa.k
      |  GROUP BY 1, 2),
      |tot AS (SELECT id, CAST(sum(w) AS BIGINT) AS tot FROM wts GROUP BY 1),
      |inter AS (
      |  SELECT p.id_a, p.id_b, CAST(sum(least(a.w, b.w)) AS BIGINT) AS smin
      |  FROM prs p JOIN wts a ON a.id = p.id_a
      |  JOIN wts b ON b.id = p.id_b AND b.tok = a.tok
      |  GROUP BY 1, 2)
      |SELECT e.id_a, e.id_b, e.wj_est,
      |  round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |        / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) AS wj_exact,
      |  round(abs(e.wj_est - round(CAST(coalesce(i.smin, 0) AS DOUBLE)
      |    / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6)), 6) AS abs_err
      |FROM est e JOIN tot ta ON ta.id = e.id_a JOIN tot tb ON tb.id = e.id_b
      |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      |ORDER BY e.id_a, e.id_b""".stripMargin
  }

  /** Weighted near-dup join at scale shape
    * ([[Dedup.icwsNearDups]]): ICWS signatures over word 3-shingle
    * tf·idf features banded 8×4 over the whole corpus,
    * bucket-collision candidates verified against the
    * exact weighted Jaccard at τ=0.7 — every emitted pair is a
    * true weighted near-dup; recall follows the banded S-curve. */
  private def icwsNearDupsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.icwsNearDups(t(s, dir, "documents"), threshold = 0.7)
      .orderBy("id_a", "id_b")

  /** d_icws_neardups: the banded weighted near-dup replay — ICWS sig
    * CTEs over the whole corpus on word 3-shingle tf·idf features,
    * 8×4 band keys (slot "tok@tk" strings in slot order),
    * bucket-collision candidates, exact weighted Jaccard verify at τ. */
  private def icwsNearDupsSql: String =
    s"""WITH ${icwsSigCtes("TRUE", shingle = 3)},
       |bnd AS (
       |  SELECT id, k // 4 AS band,
       |    string_agg(s_tok || '@' || s_tk, '|' ORDER BY k) AS bkey
       |  FROM sig GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bnd a JOIN bnd b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
       |tot AS (SELECT id, CAST(sum(w) AS BIGINT) AS tot FROM wts GROUP BY 1),
       |inter AS (
       |  SELECT c.id_a, c.id_b, CAST(sum(least(a.w, b.w)) AS BIGINT) AS smin
       |  FROM cand c JOIN wts a ON a.id = c.id_a
       |  JOIN wts b ON b.id = c.id_b AND b.tok = a.tok
       |  GROUP BY 1, 2)
       |SELECT c.id_a, c.id_b,
       |  round(CAST(coalesce(i.smin, 0) AS DOUBLE)
       |        / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) AS wjaccard
       |FROM cand c
       |JOIN tot ta ON ta.id = c.id_a JOIN tot tb ON tb.id = c.id_b
       |LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
       |WHERE round(CAST(coalesce(i.smin, 0) AS DOUBLE)
       |      / CAST(ta.tot + tb.tot - coalesce(i.smin, 0) AS DOUBLE), 6) >= 0.7
       |ORDER BY c.id_a, c.id_b""".stripMargin

  private def minhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(s, dir, "documents"), threshold = 0.05, bands = 20)
      .orderBy("id_a", "id_b")

  private def minhashLshSql: String =
    s"""WITH $minhashPairCtes
       |SELECT id_a, id_b, jaccard FROM pairs
       |WHERE nb > 0 AND jaccard >= 0.05
       |ORDER BY id_a, id_b""".stripMargin

  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 40)
    val sh = docs.select(col("doc_id").as("id"), simhash64(col("text")).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).cast("long").as("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
  }

  /** d_simhash_pairs: 64-bit SimHash (md5Low64 token hash) + Hamming. */
  private def simhashPairsSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
       |  FROM documents WHERE doc_id <= 40),
       |bits AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (md5_number_lower(tok) >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
       |  FROM toks CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id,
       |    bit_or(CASE WHEN cnt > 0 THEN (CAST(1 AS UBIGINT) << b) ELSE CAST(0 AS UBIGINT) END) AS s
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |ORDER BY hamming, id_a, id_b LIMIT 100""".stripMargin

  /** LLM-pipeline: end-to-end near-dup removal — pairs → components →
    * one representative per cluster. The id checksum pins the kept SET. */
  private def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.05, bands = 20)
    Dedup.dropNearDuplicates(docs, pairs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang")
  }

  /** d_dedup_corpus: end-to-end near-dup REMOVAL — verified pairs →
    * connected components (transitive closure; min id wins) → keep one
    * representative per component plus unpaired docs (mirrors
    * Dedup.dropNearDuplicates ∘ resolveClusters ∘ minhashNearDups). The
    * id checksum pins the exact kept set, not just its size.
    */
  private def dedupCorpusSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |vp AS (SELECT id_a, id_b FROM pairs WHERE nb > 0 AND jaccard >= 0.05),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
       |          UNION SELECT id_b, id_a FROM vp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
       |           FROM reach GROUP BY src),
       |losers AS (SELECT id FROM labels WHERE id <> cluster)
       |SELECT lang, count(*) AS n_docs_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
       |FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** LLM-pipeline: quality-aware canonical selection per near-dup
    * cluster — keep the longest member (n_chars, tie → min id) instead
    * of an arbitrary representative. */
  private def clusterCanonicalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.05, bands = 20)
    Dedup.canonicalPerCluster(docs, pairs, "n_chars")
      .orderBy("cluster")
  }

  /** d_cluster_canonical: same verified pairs → transitive closure as
    * d_dedup_corpus, then each cluster's best member by (n_chars desc,
    * id asc) — the quality-aware keep policy. All-integer output. */
  private def clusterCanonicalSql: String =
    s"""WITH RECURSIVE $minhashPairCtes,
       |vp AS (SELECT id_a, id_b FROM pairs WHERE nb > 0 AND jaccard >= 0.05),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
       |          UNION SELECT id_b, id_a FROM vp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
       |           FROM reach GROUP BY src),
       |members AS (SELECT l.id, l.cluster, d.n_chars
       |            FROM labels l JOIN documents d ON d.doc_id = l.id),
       |canon AS (SELECT id, cluster, n_chars,
       |            row_number() OVER (PARTITION BY cluster
       |              ORDER BY n_chars DESC, id) AS rn
       |          FROM members)
       |SELECT m.cluster, count(*) AS n_members,
       |  CAST(min(c.id) AS BIGINT) AS canonical_id,
       |  CAST(min(c.n_chars) AS BIGINT) AS canonical_quality,
       |  CAST(sum(m.id) - min(c.id) AS BIGINT) AS dropped_id_sum
       |FROM members m JOIN (SELECT * FROM canon WHERE rn = 1) c
       |  ON c.cluster = m.cluster
       |GROUP BY m.cluster ORDER BY m.cluster""".stripMargin

  /** Corpus snapshot diff: old = ids not divisible by 7, new = ids not
    * divisible by 3 with a real edit on ids%5==0 and a WHITESPACE-ONLY
    * edit on ids%11==0 — the latter must compare unchanged (normalized
    * fingerprints), which the oracle states from the predicates. */
  private def corpusDiffQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
    val newSnap = docs.filter(col("doc_id") % 3 =!= 0).withColumn("text",
      when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
        .when(col("doc_id") % 11 === 0, regexp_replace(col("text"), " ", "  "))
        .otherwise(col("text")))
    Dedup.corpusDiff(oldSnap, newSnap)
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("id_checksum"))
      .orderBy("status")
  }

  /** d_corpus_diff: the expected status of every id follows from the
    * snapshot-membership and edit predicates — a broken fingerprint
    * compare (or broken whitespace normalization: ids%11 carry a
    * whitespace-only edit and must be unchanged) shifts the counts. */
  private def corpusDiffSql: String =
    """WITH st AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN doc_id % 3 <> 0 AND doc_id % 7 = 0 THEN 'added'
      |         WHEN doc_id % 7 <> 0 AND doc_id % 3 = 0 THEN 'removed'
      |         WHEN doc_id % 7 <> 0 AND doc_id % 3 <> 0 AND doc_id % 5 = 0 THEN 'changed'
      |         WHEN doc_id % 7 <> 0 AND doc_id % 3 <> 0 THEN 'unchanged'
      |         ELSE NULL END AS status
      |  FROM documents)
      |SELECT status, count(*) AS n_docs, CAST(sum(id) AS BIGINT) AS id_checksum
      |FROM st WHERE status IS NOT NULL
      |GROUP BY status ORDER BY status""".stripMargin

  /** Leakage-safe splits: split assignment hashes the near-dup CLUSTER,
    * so no duplicate pair can cross a split boundary. The checksum pins
    * the exact assignment; DuckDB replays closure + hash. */
  private def leakageSplitQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.05, bands = 20)
    graft.sources.Splits.leakageSafeSplit(docs, pairs,
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_checksum"),
        countDistinct(col("cluster")).as("n_clusters"))
      .orderBy("split")
  }

  /** d_leakage_split: replay closure labels (cluster = component min id,
    * singletons = own id), then the salted cluster-hash thresholds —
    * every duplicate-cluster member lands in the same split by
    * construction. */
  private def leakageSplitSql: String = {
    def thr(f: Double) = math.floor(f * 4294967296.0).toLong
    s"""WITH RECURSIVE $minhashPairCtes,
       |vp AS (SELECT id_a, id_b FROM pairs WHERE nb > 0 AND jaccard >= 0.05),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
       |          UNION SELECT id_b, id_a FROM vp),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       |labels AS (SELECT src AS id, least(src, min(dst)) AS cluster
       |           FROM reach GROUP BY src),
       |assign AS (
       |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS cluster,
       |    (md5_number_lower(CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)
       |       || ':split0') & 4294967295) AS h
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id)
       |SELECT CASE WHEN h < ${thr(0.8)} THEN 'train'
       |            WHEN h < ${thr(0.9)} THEN 'valid'
       |            ELSE 'test' END AS split,
       |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters
       |FROM assign GROUP BY split ORDER BY split""".stripMargin
  }

  /** LSH band-plan calibration — the S-curve table an engineer consults
    * to pick (bands, rows) at corpus scale: for each measured pair
    * Jaccard J (the bounded 25-doc exact bigram relation that
    * `d_ngram_jaccard` pins) and each fixed-budget band plan (b bands ×
    * r rows, b·r = 32 hashes: 16×2, 8×4, 4×8, 2×16), the analytic
    * MinHash capture probability P = 1 − (1 − J^r)^b, aggregated at
    * τ = 0.5 into expected caught true/false pairs. Complements
    * `d_lsh_quality` (empirical audit of the engine's own banding) with
    * the predictive curve. FP discipline: J is 6-dp; J^r and the final
    * P are rounded to 6 dp in the SAME order on both engines (the
    * bm25-idf transcendental precedent), and the expectations sum as
    * exact DECIMAL(18,6) for order-independence, then project as
    * DOUBLE (exact: ≤6 fractional digits, ≤300 terms — well inside
    * double's 2^53 integer range at 1e-6 granularity; the
    * j_hybrid_rrf precedent for hash-stable final types).
    * Zero-overlap pairs have P = 0 and are excluded like the base
    * relation. */
  private def lshCalibrationQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val jac = Dedup.ngramJaccardPairs(docs, pairs, n = 2)
      .filter(col("jaccard") > 0)
    val grid = s.createDataFrame(Seq((16, 2), (8, 4), (4, 8), (2, 16)))
      .toDF("b", "r")
    val jr = round(pow(col("jaccard"), col("r")), 6)
    val p = round(lit(1.0) - pow(lit(1.0) - jr, col("b")), 6)
    jac.crossJoin(broadcast(grid))
      .select(col("b"), col("r"), col("jaccard"), p.as("p"))
      .groupBy("b", "r")
      .agg(
        sum(when(col("jaccard") >= 0.5, lit(1L)).otherwise(0L)).as("n_true"),
        sum(when(col("jaccard") < 0.5, lit(1L)).otherwise(0L)).as("n_false"),
        sum(when(col("jaccard") >= 0.5, col("p").cast("decimal(18,6)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(18,6)")))
          .cast("double").as("exp_true_caught"),
        sum(when(col("jaccard") < 0.5, col("p").cast("decimal(18,6)"))
          .otherwise(lit(BigDecimal(0)).cast("decimal(18,6)")))
          .cast("double").as("exp_false_caught"))
      .orderBy("b")
  }

  /** d_lsh_calibration: the analytic MinHash S-curve over the exact
    * bigram-Jaccard pair relation (d_ngram_jaccard's CTE) × the 32-hash
    * band-plan grid. J^r and the final P are rounded to 6 dp in the same
    * order as the engine; expectations sum as exact DECIMAL(18,6) and
    * project as DOUBLE (exact at this magnitude; the driver's hash
    * canonicalizes DECIMAL representations inconsistently — the
    * j_hybrid_rrf precedent). */
  private def lshCalibrationSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents WHERE doc_id <= 25
      |), g AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(w) <= 1 THEN [array_to_string(w, ' ')]
      |         ELSE list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) END) AS sh
      |  FROM d),
      |jac AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
      |  FROM g a JOIN g b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh)) > 0),
      |grid AS (SELECT * FROM (VALUES (16, 2), (8, 4), (4, 8), (2, 16)) AS t(b, r)),
      |p AS (
      |  SELECT b, r, jaccard,
      |    round(1.0 - power(1.0 - round(power(jaccard, r), 6), b), 6) AS p
      |  FROM jac CROSS JOIN grid)
      |SELECT b, r,
      |  CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(sum(CASE WHEN jaccard < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_false,
      |  CAST(sum(CASE WHEN jaccard >= 0.5 THEN CAST(p AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS exp_true_caught,
      |  CAST(sum(CASE WHEN jaccard < 0.5 THEN CAST(p AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS exp_false_caught
      |FROM p GROUP BY b, r ORDER BY b""".stripMargin

  /** LSH auto band plan ([[graft.operators.Dedup.bandPlanTable]]) — the
    * d_lsh_calibration S-curve fed back into the engine at the same
    * τ = 0.5 / 32-hash budget: expected false-positive and miss masses
    * for every divisor plan (b·r = 32) over the 99-point analytic
    * Jaccard grid, and the argmin `chosen` flag
    * [[graft.operators.Dedup.planBands]] returns —
    * `Dedup.minhashNearDups` now defaults its banding to that choice.
    * No data scan: pure integer-micro arithmetic on both engines. */
  private def lshAutoplanQ(s: SparkSession, dir: String): DataFrame =
    Dedup.bandPlanTable(s, threshold = 0.5, nHashes = 32)

  /** d_lsh_autoplan: the analytic band-plan chooser's table — every
    * divisor plan of the 32-hash budget scored on the 99-point Jaccard
    * grid against a τ=0.5 step (FP mass below, miss mass above), micro-
    * integer sums, argmin chosen on (err, b). Same rounding order as
    * the engine's Dedup.bandPlanTable; no table scan on either side. */
  private def lshAutoplanSql: String =
    """WITH grid AS (
      |  SELECT b, 32 // b AS r FROM (SELECT unnest([1, 2, 4, 8, 16, 32]) AS b)),
      |js AS (
      |  SELECT b, r, CAST(ji AS DOUBLE) / 100.0 AS j
      |  FROM grid, (SELECT unnest(range(1, 100)) AS ji)),
      |pm AS (
      |  SELECT b, r, j,
      |    CAST(round(round(1.0 - power(1.0 - round(power(j, r), 6), b), 6)
      |      * 1000000.0, 0) AS BIGINT) AS p_micro
      |  FROM js),
      |agg AS (
      |  SELECT b, r,
      |    CAST(sum(CASE WHEN j < 0.5 THEN p_micro ELSE 0 END) AS BIGINT) AS fp_micro,
      |    CAST(sum(CASE WHEN j >= 0.5 THEN 1000000 - p_micro ELSE 0 END) AS BIGINT) AS fn_micro
      |  FROM pm GROUP BY b, r)
      |SELECT b, r,
      |  CAST(fp_micro AS DOUBLE) / 1000000.0 AS exp_fp,
      |  CAST(fn_micro AS DOUBLE) / 1000000.0 AS exp_fn,
      |  CAST(fp_micro + fn_micro AS DOUBLE) / 1000000.0 AS exp_err,
      |  row_number() OVER (ORDER BY fp_micro + fn_micro, b) = 1 AS chosen
      |FROM agg ORDER BY b""".stripMargin

  /** Soft-dedup sampling weights
    * ([[graft.operators.Dedup.softDedupWeights]]) over leading-content
    * fingerprint clusters (first 80 chars — the shared-preamble family;
    * full-text fingerprints have no duplicates in this corpus),
    * aggregated per cluster size. */
  private def softDedupQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.doc_fingerprint
    val docs = t(s, dir, "documents")
    val fp = docs.select(col("doc_id"),
      doc_fingerprint(substring(col("text"), 1, 80)).as("fp"))
    val dups = fp.groupBy("fp")
      .agg(min(col("doc_id")).as("k"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
    val pairs = fp.join(dups, "fp").filter(col("doc_id") =!= col("k"))
      .select(col("k").as("id_a"), col("doc_id").as("id_b"))
    graft.operators.Dedup.softDedupWeights(docs, pairs)
      .groupBy("cl_size", "weight_ppm")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("cl_size")
  }

  private def softDedupSql: String =
    """WITH fp AS (SELECT doc_id,
      |  md5(regexp_replace(lower(trim(substr(text, 1, 80))), '\s+', ' ', 'g')) AS fp FROM documents),
      |g AS (SELECT fp, count(*) AS n FROM fp GROUP BY fp)
      |SELECT CAST(g.n AS BIGINT) AS cl_size,
      |  CAST(1000000 // g.n AS BIGINT) AS weight_ppm,
      |  count(*) AS n_docs, CAST(sum(f.doc_id) AS BIGINT) AS id_checksum
      |FROM fp f JOIN g USING (fp) GROUP BY 1, 2 ORDER BY cl_size""".stripMargin

  /** Bloom-filter merge algebra pinned as a query: the two batches'
    * set-bit relations union to EXACTLY the one-shot filter over the
    * whole corpus ([[graft.operators.Bloom.buildBits]] — bits are a
    * SET, so chunked builds fold like every other mergeable sketch in
    * the family); the oracle replays only the one-shot side. */
  private def bloomMergeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bloom
    val spec = Bloom.BloomSpec(mBits = 1024, k = 3)
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(word_shingles(col("text"), 3))).as("s"))
    def half(parity: Int) = Bloom.buildBits(
      sh.filter(col("doc_id") % 2 === parity).select("s"), "s", spec)
    half(0).unionByName(half(1)).distinct()
      .agg(count(lit(1)).as("n_set_bits"),
        sum(col("bit_pos")).as("pos_checksum"),
        round(count(lit(1)).cast("double") / spec.mBits, 6).as("fill_ratio"))
  }

  // d_bloom_merge: chunked set-bit union == one-shot build IS the
  // oracle (only the one-shot side is replayed)
  private def bloomMergeSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |g AS (SELECT doc_id,
      |        CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
      |             ELSE list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END AS sh
      |      FROM d),
      |vs AS (SELECT DISTINCT unnest(sh) AS s FROM g),
      |bits AS (SELECT DISTINCT (md5_number_lower(s || ':bloom' || i) & 4294967295) % 1024 AS p
      |         FROM vs, unnest([0, 1, 2]) AS t(i))
      |SELECT count(*) AS n_set_bits, CAST(sum(p) AS BIGINT) AS pos_checksum,
      |  round(CAST(count(*) AS DOUBLE) / 1024, 6) AS fill_ratio
      |FROM bits""".stripMargin

  /** LLM-pipeline: incremental dedup — the 10% of docs with
    * doc_id % 10 = 9 arrive as a "new batch" and are flagged against the
    * sketch catalog of the other 90% (exact fingerprint + banded MinHash
    * at the LSH query's 0.05 threshold). SF-proportional split so the
    * query is meaningful at every scale factor.
    */
  private def incrementalDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val catalog = graft.operators.Dedup.sketchCatalog(
      docs.filter(col("doc_id") % 10 < 9))
    graft.operators.Dedup.incrementalDedupReport(
      docs.filter(col("doc_id") % 10 === 9), catalog, threshold = 0.05)
      .orderBy("id")
  }

  /** d_incremental_dedup: new batch (doc_id % 10 = 9) vs the catalog of
    * the rest — exact fingerprint match (min catalog id) plus best banded
    * MinHash match at jaccard ≥ 0.05 (max jaccard, min id tiebreak). */
  private def incrementalDedupSql: String =
    s"""WITH $docDigCtes,
       |fp AS (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS f
       |       FROM documents),
       |exact AS (SELECT n.doc_id AS id, min(c.doc_id) AS exact_dup_of
       |          FROM fp n JOIN fp c ON n.f = c.f AND c.doc_id % 10 < 9
       |          WHERE n.doc_id % 10 = 9 GROUP BY 1),
       |pairs AS (
       |  SELECT n.doc_id AS id, c.doc_id AS cat_id,
       |    ${digCompare("n", "c")}
       |  FROM dig n JOIN dig c ON n.doc_id % 10 = 9 AND c.doc_id % 10 < 9),
       |best AS (SELECT id, cat_id AS near_dup_of, jaccard FROM (
       |    SELECT id, cat_id, jaccard,
       |      row_number() OVER (PARTITION BY id ORDER BY jaccard DESC, cat_id) AS rn
       |    FROM pairs WHERE nb > 0 AND jaccard >= 0.05) WHERE rn = 1)
       |SELECT nb.doc_id AS id, e.exact_dup_of, b.near_dup_of, b.jaccard
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) nb
       |LEFT JOIN exact e ON e.id = nb.doc_id
       |LEFT JOIN best b ON b.id = nb.doc_id
       |ORDER BY id""".stripMargin

  /** LSH quality audit on a bounded 200-doc sample: banded-MinHash
    * pairs vs exact-Jaccard truth at the same τ=0.05 / 3-gram shingles
    * ([[graft.operators.Dedup.lshQualityReport]]).
    */
  private def lshQualityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshQualityReport(
      t(s, dir, "documents").filter(col("doc_id") < 200), threshold = 0.05)

  /** d_lsh_quality: banded-MinHash predictions (digest replay) vs
    * all-pairs exact-Jaccard truth on the SAME ≤200-doc sample and
    * shingles — precision/recall/F1 in exact integer counts. */
  private def lshQualitySql: String = {
    val dig = docDigCtes.replace("FROM documents)",
      "FROM documents WHERE doc_id < 200)")
    s"""WITH $dig,
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${digCompare("a", "b")}
       |  FROM dig a JOIN dig b ON a.doc_id < b.doc_id),
       |pred AS (SELECT id_a, id_b FROM pairs WHERE nb > 0 AND jaccard >= 0.05),
       |toks2 AS (SELECT DISTINCT doc_id AS id, unnest(sh) AS tok FROM g),
       |sizes2 AS (SELECT id, count(*) AS sz FROM toks2 GROUP BY 1),
       |inter2 AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM toks2 a JOIN toks2 b ON a.tok = b.tok AND a.id < b.id
       |  GROUP BY 1, 2),
       |truth AS (SELECT i.id_a, i.id_b FROM inter2 i
       |  JOIN sizes2 sa ON sa.id = i.id_a JOIN sizes2 sb ON sb.id = i.id_b
       |  WHERE round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6) >= 0.05),
       |hit AS (SELECT id_a, id_b FROM pred INTERSECT SELECT id_a, id_b FROM truth),
       |c AS (SELECT (SELECT count(*) FROM pred) AS n_pred,
       |             (SELECT count(*) FROM truth) AS n_true,
       |             (SELECT count(*) FROM hit) AS n_hit)
       |SELECT CAST(n_pred AS BIGINT) AS n_pred, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  CASE WHEN n_pred = 0 THEN 0.0
       |       ELSE round(CAST(n_hit AS DOUBLE) / n_pred, 6) END AS prec,
       |  CASE WHEN n_true = 0 THEN 0.0
       |       ELSE round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall,
       |  CASE WHEN n_pred + n_true = 0 THEN 0.0
       |       ELSE round(CAST(2 AS DOUBLE) * n_hit / (n_pred + n_true), 6) END AS f1
       |FROM c""".stripMargin
  }

  /** LSH banding planner s-curve table ([[graft.operators.Dedup.lshBandPlan]])
    * — closed-form, no data scan; the pre-flight for every near-dup pass.
    */
  private def lshPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshBandPlan(s, nHashes = 128)
      .orderBy("bands", "sim_pct")

  // pow/round(…,6) replay: both engines evaluate IEEE-754 pow on the
  // same exactly-representable inputs (1/b with b a power of two,
  // i·5/100); 6-dp rounding absorbs any last-ULP libm divergence
  private def lshPlanSql: String =
    """WITH b AS (SELECT CAST(x AS BIGINT) AS bands,
      |    CAST(128 // x AS BIGINT) AS rows_per_band
      |  FROM generate_series(1, 128) t(x) WHERE 128 % x = 0),
      |g AS (SELECT CAST(x * 5 AS BIGINT) AS sim_pct
      |  FROM generate_series(1, 19) t(x))
      |SELECT bands, rows_per_band,
      |  round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS threshold_star,
      |  sim_pct,
      |  round(1.0 - pow(1.0 - pow(CAST(sim_pct AS DOUBLE) / 100.0,
      |    rows_per_band), bands), 6) AS p_candidate
      |FROM b CROSS JOIN g ORDER BY bands, sim_pct""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("d_exact_dup", exactDup, exactDupSql),
    QuerySpec("d_ngram_jaccard", ngramJaccard, ngramJaccardSql),
    QuerySpec("j5_weighted_jaccard", weightedJaccardQ, weightedJaccardSql),
    QuerySpec("d_weighted_minhash", weightedMinhashQ, weightedMinhashSql),
    QuerySpec("d_icws_minhash", icwsMinhashQ, icwsMinhashSql),
    QuerySpec("d_icws_neardups", icwsNearDupsQ, icwsNearDupsSql),
    QuerySpec("d_minhash_lsh", minhashNearDups, minhashLshSql),
    QuerySpec("d_simhash_pairs", simhashPairs, simhashPairsSql),
    QuerySpec("d_dedup_corpus", dedupCorpus, dedupCorpusSql),
    QuerySpec("d_cluster_canonical", clusterCanonicalQ, clusterCanonicalSql),
    QuerySpec("d_corpus_diff", corpusDiffQ, corpusDiffSql),
    QuerySpec("d_leakage_split", leakageSplitQ, leakageSplitSql),
    QuerySpec("d_lsh_calibration", lshCalibrationQ, lshCalibrationSql),
    QuerySpec("d_lsh_autoplan", lshAutoplanQ, lshAutoplanSql),
    QuerySpec("d_soft_dedup", softDedupQ, softDedupSql),
    QuerySpec("d_bloom_merge", bloomMergeQ, bloomMergeSql),
    QuerySpec("d_incremental_dedup", incrementalDedupQ, incrementalDedupSql),
    QuerySpec("d_lsh_quality", lshQualityQ, lshQualitySql),
    QuerySpec("d_lsh_plan", lshPlanQ, lshPlanSql))
}
