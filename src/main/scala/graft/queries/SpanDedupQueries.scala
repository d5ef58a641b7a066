package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

import Shared._

/** Exact and span-level dedup: fuzzy and prefix-filtered set joins,
  * line and substring removal, Bloom pre-filters and cosine pair joins. */
object SpanDedupQueries {

  /** Full-quadratic TF-IDF cosine self-join oracle over `docsRel` (a
    * table name or parenthesized subquery) — shared by d_cosine_pairs
    * (blocked kernel, whole corpus) and d_cosine_postings (L2AP prefix
    * plan, bounded slice). */
  private def cosinePairsSqlFor(docsRel: String): String =
    s"""WITH tk AS (SELECT doc_id AS id,
       |        unnest(list_filter(string_split_regex(lower(text), '\\s+'),
       |          t -> t <> '')) AS term
       |      FROM $docsRel),
       |tf AS (SELECT id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM $docsRel),
       |w AS (SELECT tf.id, tf.term,
       |        CAST(tf.tf * round((ln((n.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0)
       |          * 1e6, 0) AS BIGINT) AS wq
       |      FROM tf JOIN dfq USING (term), n),
       |norms AS (SELECT id, sum(CAST(wq AS HUGEINT) * CAST(wq AS HUGEINT)) AS n2
       |          FROM w GROUP BY 1),
       |dots AS (SELECT a.id AS id_a, b.id AS id_b,
       |           sum(CAST(a.wq AS HUGEINT) * CAST(b.wq AS HUGEINT)) AS dot
       |         FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
       |         GROUP BY 1, 2)
       |SELECT id_a, id_b, cosine FROM (
       |  SELECT id_a, id_b,
       |    round(CAST(dot AS DOUBLE) /
       |      sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cosine
       |  FROM dots JOIN norms na ON dots.id_a = na.id
       |            JOIN norms nb ON dots.id_b = nb.id)
       |WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin

  /** Shared CTE list of the PPJoin replay (ends at `j`, the rounded
    * pairwise jaccard relation). */
  private def ppjoinCtes: String =
    raw"""${shingle3Ctes("doc_id")},
      |toks AS (SELECT DISTINCT doc_id AS id, unnest(sh) AS tok FROM g),
      |freq AS (SELECT tok, count(*) AS f FROM toks GROUP BY 1),
      |sizes AS (SELECT id, count(*) AS sz FROM toks GROUP BY 1),
      |pref AS (SELECT id, tok, sz FROM (
      |    SELECT t.id, t.tok, s.sz,
      |      row_number() OVER (PARTITION BY t.id ORDER BY f.f, t.tok) AS pos
      |    FROM toks t JOIN freq f USING (tok) JOIN sizes s USING (id))
      |  WHERE pos <= sz - CAST(ceil(0.7 * CAST(sz AS DOUBLE)) AS BIGINT) + 1),
      |cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id
      |  WHERE CAST(b.sz AS DOUBLE) >= 0.7 * CAST(a.sz AS DOUBLE)
      |    AND CAST(a.sz AS DOUBLE) >= 0.7 * CAST(b.sz AS DOUBLE)),
      |inter AS (SELECT c.id_a, c.id_b, count(*) AS i
      |  FROM cands c JOIN toks ta ON ta.id = c.id_a
      |               JOIN toks tb ON tb.id = c.id_b AND tb.tok = ta.tok
      |  GROUP BY 1, 2),
      |j AS (SELECT i.id_a, i.id_b,
      |        round(CAST(i.i AS DOUBLE) / CAST(sa.sz + sb.sz - i.i AS DOUBLE), 6) AS jaccard
      |      FROM inter i JOIN sizes sa ON sa.id = i.id_a
      |                   JOIN sizes sb ON sb.id = i.id_b)""".stripMargin

  /** d_dup_spans: replay the exact duplicated-substring pass — 8-grams at
    * every token position, corpus-wide occurrence counts with the
    * lexicographic-first (id, pos) canonical copy (encoded as
    * id·1e6 + pos, safe: doc ids and positions are far below 1e6),
    * gaps-and-islands merge of the surviving positions. */
  private def dupSpanCtes: String =
    """d AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
      |        ELSE string_split_regex(trim(text), '\s+') END AS w
      |      FROM documents),
      |e AS (SELECT * FROM d WHERE len(w) >= 8),
      |g AS (SELECT doc_id AS id, i - 1 AS pos,
      |        array_to_string(w[i:i+7], ' ') AS gram
      |      FROM e, unnest(range(1, len(w) - 7 + 1)) AS t(i)),
      |st AS (SELECT gram, count(*) AS occ, min(id * 1000000 + pos) AS fk
      |       FROM g GROUP BY gram),
      |m AS (SELECT g.id, g.pos FROM g JOIN st USING (gram)
      |      WHERE st.occ > 1 AND g.id * 1000000 + g.pos <> st.fk),
      |i AS (SELECT id, pos,
      |        CASE WHEN lag(pos) OVER (PARTITION BY id ORDER BY pos) IS NULL
      |              OR pos > lag(pos) OVER (PARTITION BY id ORDER BY pos) + 1
      |             THEN 1 ELSE 0 END AS brk
      |      FROM m),
      |isl AS (SELECT id, pos,
      |          sum(brk) OVER (PARTITION BY id ORDER BY pos) AS isl
      |        FROM i)""".stripMargin

  /** Corpus bigram duplication rate per language — the "what fraction of
    * the corpus is duplicated text" table a dedup pass reports before/
    * after running (Lee et al. 2021, arXiv:2107.06499 §4 reports exactly
    * this per-corpus). One explode + two aggregations, both keyed —
    * corpus-linear, shuffle on (lang, gram) then lang; no pairing. */
  private def dupNgramCoverage(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("lang"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("gram_instances"),
        count(lit(1)).as("distinct_grams"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_instances"))
      .withColumn("dup_fraction",
        round(col("dup_instances").cast("double") / col("gram_instances"), 6))
      .orderBy("lang")

  private def dupNgramCoverageSql: String =
    """WITH d AS (
      |  SELECT lang, string_split_regex(trim(text), '\s+') AS w FROM documents
      |), g AS (
      |  SELECT lang, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram
      |  FROM d WHERE len(w) >= 2
      |), c AS (
      |  SELECT lang, gram, count(*) AS c FROM g GROUP BY 1, 2
      |)
      |SELECT lang, CAST(sum(c) AS BIGINT) AS gram_instances,
      |  count(*) AS distinct_grams,
      |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_instances,
      |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_fraction
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin

  /** Corpus-level duplicated-substring coverage — the before/after
    * headline a substring-dedup pass reports (Lee et al. 2021 report
    * "X% of tokens in the corpus are part of a duplicated substring"):
    * total tokens, tokens inside ≥8-token duplicated spans (canonical
    * first copies excluded — exactly what [[Dedup.removeDuplicateSpans]]
    * would excise), affected docs, and the fraction. Two 1-row
    * aggregates crossed — corpus-linear, nothing new shuffles beyond
    * duplicateSpans' own gram pass. */
  private def dupSpanCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val tok = docs.select(
        when(trim(col("text")) === "", lit(0))
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("nt"))
      .agg(count(lit(1)).as("n_docs"), sum("nt").cast("long").as("total_tokens"))
    val sp = Dedup.duplicateSpans(docs)
      .agg(coalesce(sum("span_tokens"), lit(0L)).as("dup_span_tokens"),
        count_distinct(col("id")).as("docs_with_dups"))
    tok.crossJoin(sp)
      .withColumn("dup_fraction",
        round(col("dup_span_tokens").cast("double") / col("total_tokens"), 6))
  }

  /** d_dup_span_coverage: corpus headline over the same span CTEs —
    * total tokens, tokens inside duplicated spans, affected docs,
    * fraction. */
  private def dupSpanCoverageSql: String =
    s"""WITH $dupSpanCtes,
      |sp AS (SELECT id, min(pos) AS s, max(pos) + 7 AS e2
      |       FROM isl GROUP BY id, isl),
      |tt AS (SELECT count(*) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS total_tokens FROM d),
      |ss AS (SELECT CAST(coalesce(sum(e2 - s + 1), 0) AS BIGINT) AS dup_span_tokens,
      |         count(DISTINCT id) AS docs_with_dups FROM sp)
      |SELECT tt.n_docs, tt.total_tokens, ss.dup_span_tokens, ss.docs_with_dups,
      |  round(CAST(ss.dup_span_tokens AS DOUBLE) / tt.total_tokens, 6) AS dup_fraction
      |FROM tt, ss""".stripMargin

  /** LLM-pipeline: blocked fuzzy matching — distinct part names blocked
    * by their last token, Levenshtein ≤ 3 verified in-block only, with
    * per-name member counts (the record-linkage primitive).
    */
  private def fuzzyPairsQ(s: SparkSession, dir: String): DataFrame = {
    val parts = t(s, dir, "part")
    val pairs = graft.operators.Dedup.editDistancePairs(parts, "p_name",
      element_at(split(col("p_name"), " "), -1), maxDist = 3)
    val counts = parts.groupBy(col("p_name")).agg(count(lit(1)).as("n"))
    pairs
      .join(counts.select(col("p_name").as("val_a"), col("n").as("n_a")), "val_a")
      .join(counts.select(col("p_name").as("val_b"), col("n").as("n_b")), "val_b")
      .select("val_a", "val_b", "dist", "n_a", "n_b")
      .orderBy("val_a", "val_b")
  }

  /** d_fuzzy_pairs: last-token-blocked Levenshtein pairs over distinct
    * part names (exact-integer distance), with member counts. */
  private def fuzzyPairsSql: String =
    """WITH d AS (SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk FROM part),
      |pairs AS (
      |  SELECT a.p_name AS val_a, b.p_name AS val_b,
      |    CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |  FROM d a JOIN d b ON a.blk = b.blk AND a.p_name < b.p_name
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3),
      |c AS (SELECT p_name, count(*) AS n FROM part GROUP BY 1)
      |SELECT val_a, val_b, dist, ca.n AS n_a, cb.n AS n_b
      |FROM pairs JOIN c ca ON ca.p_name = pairs.val_a
      |           JOIN c cb ON cb.p_name = pairs.val_b
      |ORDER BY val_a, val_b""".stripMargin

  /** LLM-pipeline: EXACT Jaccard ≥ 0.7 near-dup pairs over 3-shingles —
    * PPJoin-style prefix filtering, no LSH, nothing missed; candidates
    * shuffle on rare prefix tokens only.
    */
  private def ppjoinPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exactJaccardSelfJoin(
      t(s, dir, "documents"), threshold = 0.7, n = 3)
      .orderBy("id_a", "id_b")

  /** d_ppjoin_pairs: prefix-filtered exact Jaccard self-join replay —
    * same rare-first prefix, length filter, and rounded-jaccard gate. */
  private def ppjoinPairsSql: String =
    s"""WITH $ppjoinCtes
      |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  /** LLM-pipeline: EXACT-recall corpus dedup end-to-end — PPJoin exact
    * Jaccard ≥ 0.7 pairs → connected components → min-id canonical kept;
    * the no-LSH counterpart of `d_dedup_corpus`, with nothing missed by
    * banding.
    */
  private def exactDedupCorpusQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = graft.operators.Dedup.exactJaccardSelfJoin(docs, 0.7, n = 3)
      .select(col("id_a"), col("id_b"))
    graft.operators.Dedup.dropNearDuplicates(docs, pairs)
      .groupBy("lang").agg(count(lit(1)).as("n_docs_kept"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("lang")
  }

  /** d_exact_dedup_corpus: the PPJoin pairs feed the same recursive
    * connected-components replay as the LSH corpus dedup. */
  private def exactDedupCorpusSql: String =
    keptCorpusSql(ppjoinCtes, "SELECT id_a, id_b FROM j WHERE jaccard >= 0.7")

  /** LLM-pipeline: decontamination with the Bloom-bitmap prefilter —
    * same exact overlap columns as `d_decontam_report` (no false
    * negatives), plus the candidate band the bitmap let through. Small
    * mBits=1024 on purpose: it exercises the false-positive path
    * (n_candidates > n_overlap for some docs) that production mBits
    * would make invisible at this SF.
    */
  private def bloomPrefilterQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Bloom.prefilterOverlap(
      docs.filter(col("doc_id") > 5), docs.filter(col("doc_id") <= 5),
      n = 3, threshold = 0.2,
      spec = graft.operators.Bloom.BloomSpec(mBits = 1024, k = 3))
      .orderBy("id")
  }

  /** d_bloom_prefilter: decontamSql plus the Bloom band — bit positions
    * are salted md5_low32 draws mod 1024 (`md5_number_lower(s||':bloom'||i)
    * & 2³²−1 % 1024`), bits = distinct positions of the eval side, a
    * corpus shingle is a candidate iff all 3 salted positions are set
    * (JOIN multiplicity = 3), and the exact overlap join runs on
    * candidates only — identical n_overlap because Bloom has no false
    * negatives. */
  private def bloomPrefilterSql: String =
    raw"""WITH ${shingle3Ctes("doc_id")},
      |ds AS (SELECT DISTINCT doc_id, unnest(sh) AS s FROM g WHERE doc_id > 5),
      |bs AS (SELECT DISTINCT unnest(sh) AS s FROM g WHERE doc_id <= 5),
      |bits AS (SELECT DISTINCT (md5_number_lower(s || ':bloom' || i) & 4294967295) % 1024 AS p
      |         FROM bs, unnest([0, 1, 2]) AS t(i)),
      |pos AS (SELECT doc_id, s, (md5_number_lower(s || ':bloom' || i) & 4294967295) % 1024 AS p
      |        FROM ds, unnest([0, 1, 2]) AS t(i)),
      |cand AS (SELECT doc_id, s FROM pos JOIN bits USING (p)
      |         GROUP BY doc_id, s HAVING count(*) = 3),
      |counts AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY doc_id),
      |cc AS (SELECT doc_id, count(*) AS n_candidates FROM cand GROUP BY doc_id),
      |ov AS (SELECT cand.doc_id, count(*) AS n_overlap FROM cand JOIN bs ON cand.s = bs.s GROUP BY cand.doc_id)
      |SELECT c.doc_id AS id, c.n_shingles,
      |  coalesce(cc.n_candidates, 0) AS n_candidates,
      |  coalesce(o.n_overlap, 0) AS n_overlap,
      |  round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / c.n_shingles, 6) AS overlap_frac,
      |  round(CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / c.n_shingles, 6) >= 0.2 AS contaminated
      |FROM counts c LEFT JOIN cc USING (doc_id) LEFT JOIN ov o USING (doc_id)
      |ORDER BY id""".stripMargin

  /** LLM-pipeline: CCNet-style line-level corpus dedup. The synthetic
    * documents are single-line word soup, so the query first shapes each
    * into 3-word lines (sf0.01: 1,413 of 7,460 distinct lines repeat
    * across docs) and then drops cross-document repeats, keeping the
    * minimum-id copy.
    */
  private def lineDedupQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // materialize the split ONCE per row in its own projection: referencing
    // the split expression directly inside the transform lambda makes
    // Catalyst re-evaluate the regex split per sequence element (~100x
    // per doc — this query ran 5s instead of 1s at sf0.1). CollapseProject
    // keeps the alias because it is referenced more than once.
    val lined = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), (ceil(size(col("w")) / lit(3.0)) - 1).cast("int")),
          i => array_join(slice(col("w"), i * 3 + 1, lit(3)), " ")), "\n").as("text"))
    graft.operators.Dedup.lineDedup(lined, maxDocsPerLine = 1)
      .select(col("id"), col("n_lines").cast("long").as("n_lines"),
        col("n_kept"), col("text"))
      .orderBy("id")
  }

  /** d_line_dedup: replay the 3-word line shaping, the corpus-wide
    * normalized-line doc counts, the keep rule (unique line, or the
    * minimum-id owner), and the in-order reassembly
    * (`string_agg ORDER BY pos` ≡ Spark's array_sort(struct(pos,line))). */
  private def lineDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
      |l0 AS (SELECT doc_id, i AS pos,
      |         array_to_string(w[(i-1)*3+1:(i-1)*3+3], ' ') AS line
      |       FROM d, unnest(range(1, CAST(ceil(len(w) / 3.0) AS BIGINT) + 1)) AS t(i)),
      |k AS (SELECT lower(trim(line)) AS key, count(DISTINCT doc_id) AS n_docs,
      |        min(doc_id) AS first_id
      |      FROM l0 GROUP BY 1),
      |kept AS (SELECT l0.doc_id, l0.pos, l0.line
      |         FROM l0 JOIN k ON lower(trim(l0.line)) = k.key
      |         WHERE k.n_docs <= 1 OR l0.doc_id = k.first_id),
      |nl AS (SELECT doc_id, count(*) AS n_lines FROM l0 GROUP BY doc_id),
      |agg AS (SELECT doc_id, count(*) AS n_kept,
      |          string_agg(line, chr(10) ORDER BY pos) AS text
      |        FROM kept GROUP BY doc_id)
      |SELECT nl.doc_id AS id, nl.n_lines, coalesce(agg.n_kept, 0) AS n_kept,
      |  coalesce(agg.text, '') AS text
      |FROM nl LEFT JOIN agg USING (doc_id) ORDER BY id""".stripMargin

  private def dupSpans(s: SparkSession, d: String): DataFrame =
    
    graft.operators.Dedup.duplicateSpans(t(s, d, "documents"), minTokens = 8)
      .orderBy("id", "start_tok")

  private def dupSpansSql: String =
    s"""WITH $dupSpanCtes
      |SELECT CAST(id AS BIGINT) AS id,
      |  CAST(min(pos) AS BIGINT) AS start_tok,
      |  CAST(max(pos) + 7 AS BIGINT) AS end_tok,
      |  CAST(max(pos) + 7 - min(pos) + 1 AS BIGINT) AS span_tokens
      |FROM isl GROUP BY id, isl
      |ORDER BY id, start_tok""".stripMargin

  private def removeSpans(s: SparkSession, d: String): DataFrame =
    
    graft.operators.Dedup.removeDuplicateSpans(t(s, d, "documents"), minTokens = 8)
      .orderBy("id")

  /** d_substring_dedup: the removal companion — every token covered by a
    * duplicated span is excised, remaining tokens reassemble in order. */
  private def removeSpansSql: String =
    s"""WITH $dupSpanCtes,
      |sp AS (SELECT id, min(pos) AS s, max(pos) + 7 AS e2
      |       FROM isl GROUP BY id, isl),
      |tok AS (SELECT doc_id AS id, gi - 1 AS pos, w[gi] AS tok
      |        FROM d, unnest(range(1, len(w) + 1)) AS t(gi)),
      |kept AS (SELECT t.id, t.pos, t.tok FROM tok t
      |         WHERE NOT EXISTS (SELECT 1 FROM sp
      |           WHERE sp.id = t.id AND t.pos BETWEEN sp.s AND sp.e2)),
      |ka AS (SELECT id, count(*) AS n_kept,
      |         string_agg(tok, ' ' ORDER BY pos) AS text
      |       FROM kept GROUP BY id)
      |SELECT CAST(d.doc_id AS BIGINT) AS id,
      |  CAST(len(d.w) AS BIGINT) AS n_tokens,
      |  CAST(len(d.w) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
      |  coalesce(ka.text, '') AS text
      |FROM d LEFT JOIN ka ON ka.id = d.doc_id
      |ORDER BY id""".stripMargin

  /** Exact all-pairs TF-IDF cosine self-join at τ=0.9 with the Bayardo
    * blocked exact kernel ([[graft.search.TextSearch.cosineSelfJoin]]);
    * the oracle runs the FULL quadratic join, so a hash-match certifies
    * the blocking + integer merge-dot arithmetic exact on this corpus.
    */
  private def cosinePairsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.cosineSelfJoin(t(s, dir, "documents"), 0.9)
      .orderBy("id_a", "id_b")

  /** The posting-join (two-sided L2AP prefix-filter) plan of the same
    * operator, against a full-quadratic oracle — certifies the prefix
    * bound lossless, independently of the blocked kernel. Scoped to a
    * 600-doc slice: the synthetic corpus's 31-term vocabulary is the
    * posting plan's documented degenerate case (nothing prunes when
    * every pair shares hot terms), and the slice keeps the bench honest
    * about the plan without benching its worst case at sf0.1 — the
    * blocked kernel above is the full-corpus plan. */
  private def cosinePostingsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.cosineSelfJoinPostings(
        t(s, dir, "documents").filter(col("doc_id") <= 600), 0.9)
      .orderBy("id_a", "id_b")

  /** The AUTO-ROUTED cosine self-join
    * ([[graft.search.TextSearch.cosineSimilarityJoin]]) on the same corpus
    * and threshold as `d_cosine_pairs`: the per-corpus vocabulary profile
    * must send this degenerate 31-term corpus to the blocked kernel and
    * still hash-match the full-quadratic oracle — certifying the routing
    * invisible to results.
    */
  private def cosineAutoQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.cosineSimilarityJoin(t(s, dir, "documents"), 0.9)
      .orderBy("id_a", "id_b")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t_dup_ngram_coverage", dupNgramCoverage, dupNgramCoverageSql),
    QuerySpec("d_dup_span_coverage", dupSpanCoverage, dupSpanCoverageSql),
    QuerySpec("d_fuzzy_pairs", fuzzyPairsQ, fuzzyPairsSql),
    QuerySpec("d_ppjoin_pairs", ppjoinPairsQ, ppjoinPairsSql),
    QuerySpec("d_exact_dedup_corpus", exactDedupCorpusQ, exactDedupCorpusSql),
    QuerySpec("d_bloom_prefilter", bloomPrefilterQ, bloomPrefilterSql),
    QuerySpec("d_line_dedup", lineDedupQ, lineDedupSql),
    QuerySpec("d_dup_spans", dupSpans, dupSpansSql),
    QuerySpec("d_substring_dedup", removeSpans, removeSpansSql),
    // FULL quadratic cosine join — matching the engine's blocked exact
    // kernel certifies the blocking + integer dot arithmetic on this
    // corpus; the _postings entry certifies the L2AP prefix filter
    // lossless on a bounded slice with the same quadratic oracle
    QuerySpec("d_cosine_pairs", cosinePairsQ, cosinePairsSqlFor("documents")),
    QuerySpec("d_cosine_postings", cosinePostingsQ,
      cosinePairsSqlFor("(SELECT * FROM documents WHERE doc_id <= 600)")),
    QuerySpec("d_cosine_auto", cosineAutoQ, cosinePairsSqlFor("documents")))
}
