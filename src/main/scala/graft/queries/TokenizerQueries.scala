package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Tokenizers trained and applied in the engine: WordPiece, BPE and
  * Unigram, with fertility and pruning studies. */
object TokenizerQueries {

  /** t2_bpe_train: replay BPE training as an UNROLLED 8-round CTE
    * cascade (each round references its predecessor freely — no
    * recursive-CTE single-reference limit). Greedy left-to-right merge
    * uses the run-parity formula: a match position is merged iff the
    * count of consecutive match positions immediately before it is even
    * — equivalent to the engine's carry fold (a merged token never
    * re-merges within a pass).
    */
  /** One greedy-rewrite round: merge `best`'s pair into `src`'s symbol
    * arrays (run-parity greedy semantics), carrying `keep` columns. */
  private def bpeRewriteCte(src: String, best: String, out: String,
                            keep: String): String =
    s"""$out AS (
       |  SELECT $keep,
       |    flatten([CASE WHEN list_contains(kept, i) THEN [syms[i] || syms[i + 1]]
       |                  WHEN list_contains(kept, i - 1) THEN []
       |                  ELSE [syms[i]] END
       |             FOR i IN range(1, len(syms) + 1)]) AS syms
       |  FROM (
       |    SELECT $keep, syms,
       |      [i FOR i IN mp IF
       |         (i - 1 - coalesce(list_max(
       |            [k2 FOR k2 IN range(1, i) IF NOT list_contains(mp, k2)]), 0)) % 2 = 0] AS kept
       |    FROM (
       |      SELECT $keep, syms,
       |        [i FOR i IN range(1, len(syms))
       |         IF syms[i] = b.lhs AND syms[i + 1] = b.rhs] AS mp
       |      FROM $src, $best b)))""".stripMargin

  /** Shared BPE training cascade: w0 (top-40 word-freq, symbolized) and
    * per-round pair counts p$k / winner b$k / rewritten w$k. */
  private def bpeTrainCtes(numRounds: Int): String = {
    val base =
      """w0 AS (
        |  SELECT word, cnt,
        |    list_append([substr(word, i, 1) FOR i IN range(1, length(word) + 1)],
        |                '</w>') AS syms
        |  FROM (
        |    SELECT word, count(*) AS cnt FROM (
        |      SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |      FROM documents)
        |    WHERE word <> '' GROUP BY word
        |    ORDER BY cnt DESC, word LIMIT 40))""".stripMargin
    val rounds = (1 to numRounds).map { k =>
      val p = k - 1
      s"""p$k AS (
         |  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, sum(cnt) AS c
         |  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w$p)
         |  GROUP BY lhs, rhs),
         |b$k AS (SELECT lhs, rhs, c FROM p$k ORDER BY c DESC, lhs, rhs LIMIT 1),
         |${bpeRewriteCte(s"w$p", s"b$k", s"w$k", "word, cnt")}""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  // ---- t2_unigram_*: unigram-LM (SentencePiece-style) trainer replay ----

  /** Viterbi DP over a word relation, UNROLLED to `maxSteps` position
    * CTEs (words cap at length 8 in this lake; 10 leaves margin — a
    * past-the-end step is an identity projection). State st[p+1] is the
    * best (sc, segs) for the length-p prefix; candidates enumerate
    * split starts i ascending so the FIRST maximal candidate (longest
    * last piece) wins ties, exactly the engine's fold order. */
  private def unigramDpCtes(pfx: String, src: String, keep: String,
                            vmCte: String, maxPieceLen: Int,
                            maxSteps: Int): String = {
    val kc = if (keep.isEmpty) "" else keep + ", "
    // vmCte empty = PER-ROW map mode: the source relation carries its own
    // score map in a column `m` (which the caller must list in `keep` so
    // it rides through every step) — the prune oracle's alt-path DP,
    // where each (word, removed-piece) row segments under a different
    // map, uses this; the shared-vocab callers cross-join the 1-row map
    // CTE exactly as before.
    def from(prev: String) = if (vmCte.isEmpty) prev else s"$prev, $vmCte"
    val base =
      s"""${pfx}0 AS (
         |  SELECT ${kc}word,
         |    [{'sc': CAST(0 AS BIGINT), 'segs': CAST([] AS VARCHAR[])}] AS st
         |  FROM $src)""".stripMargin
    val steps = (1 to maxSteps).map { k =>
      val piece = s"substr(word, i, $k - i + 1)"
      s"""$pfx$k AS MATERIALIZED (
         |  SELECT ${kc}word,
         |    CASE WHEN $k > length(word) THEN st
         |         WHEN len(cands) = 0 THEN list_append(st,
         |           {'sc': CAST(NULL AS BIGINT), 'segs': CAST(NULL AS VARCHAR[])})
         |         ELSE list_append(st, list_filter(cands,
         |           c -> struct_extract(c, 'sc') = list_max(
         |             list_transform(cands, x -> struct_extract(x, 'sc'))))[1]) END AS st
         |  FROM (
         |    SELECT ${kc}word, st,
         |      CASE WHEN $k > length(word) THEN NULL ELSE
         |        [{'sc': struct_extract(st[i], 'sc') +
         |            CAST(map_extract(m, $piece)[1] AS BIGINT),
         |          'segs': list_append(struct_extract(st[i], 'segs'), $piece)}
         |         FOR i IN range(greatest(1, $k - $maxPieceLen + 1), $k + 1)
         |         IF struct_extract(st[i], 'sc') IS NOT NULL
         |            AND len(map_extract(m, $piece)) > 0] END AS cands
         |    FROM ${from(s"$pfx${k - 1}")}))""".stripMargin
    }
    // Loud length guard: a word longer than the unrolled steps would read
    // st past its end → NULL wsc/segs that downstream SUMs silently skip
    // while the engine segments any length — a silent oracle divergence.
    // Current lakes cap at 8 chars; if a future corpus exceeds maxSteps
    // the sweep must FAIL, not drift.
    val guard =
      s"""${pfx}G AS (
         |  SELECT CASE WHEN max(length(word)) > $maxSteps
         |    THEN error('unigramDpCtes $pfx: word length ' ||
         |      CAST(max(length(word)) AS VARCHAR) ||
         |      ' exceeds unrolled DP steps $maxSteps')
         |    ELSE 1 END AS ok FROM $src)""".stripMargin
    val fin =
      s"""${pfx}F AS (
         |  SELECT ${kc}word, struct_extract(st[length(word) + 1], 'sc') AS wsc,
         |    struct_extract(st[length(word) + 1], 'segs') AS segs
         |  FROM $pfx$maxSteps, ${pfx}G WHERE ${pfx}G.ok = 1)""".stripMargin
    (base +: guard +: steps :+ fin).mkString(",\n")
  }

  /** Micro-quantized log-prob scores over a (piece, cnt) CTE — the
    * engine's half-away-from-zero ln(cnt/Σcnt)·1e6 discipline. */
  private def unigramScoreCte(out: String, src: String): String =
    s"""$out AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(CASE WHEN l >= 0 THEN floor(l + 0.5)
       |              ELSE ceil(l - 0.5) END AS BIGINT) AS sc
       |  FROM (SELECT piece, cnt,
       |    ln(CAST(cnt AS DOUBLE) /
       |       (SELECT CAST(sum(cnt) AS DOUBLE) FROM $src)) * 1000000 AS l
       |    FROM $src)),
       |${out}m AS MATERIALIZED (
       |  SELECT map(list(piece ORDER BY piece), list(sc ORDER BY piece)) AS m
       |  FROM $out)""".stripMargin

  /** Shared unigram training cascade: capped word-freq relation, seed
    * substring vocab (all single chars + top-60 multis), then 2 hard-EM
    * rounds of Viterbi counts → zero-count prune → rescore. Final vocab
    * CTE is `uv2`. */
  private def unigramTrainCtes: String = {
    val mpl = 4; val maxSeed = 60; val steps = 10
    val wf =
      """uw AS MATERIALIZED (
        |  SELECT word, cnt FROM (
        |    SELECT word, count(*) AS cnt FROM (
        |      SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |      FROM documents)
        |    WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 40))""".stripMargin
    val seed =
      s"""usd AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
         |    SELECT cnt, substr(word, i, l) AS piece
         |    FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i FROM uw),
         |         (SELECT unnest(range(1, $mpl + 1)) AS l)
         |    WHERE i + l - 1 <= length(word))
         |  GROUP BY piece),
         |uv0raw AS (
         |  SELECT piece, cnt FROM usd WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt FROM usd WHERE length(piece) >= 2
         |    ORDER BY cnt DESC, piece LIMIT $maxSeed))""".stripMargin
    def countsCte(out: String, dpF: String) =
      s"""$out AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT cnt, unnest(segs) AS piece FROM $dpF)
         |  GROUP BY piece)""".stripMargin
    Seq(
      wf, seed,
      unigramScoreCte("uv0", "uv0raw"),
      unigramDpCtes("ud1_", "uw", "cnt", "uv0m", mpl, steps),
      countsCte("uc1", "ud1_F"),
      unigramScoreCte("uv1", "uc1"),
      unigramDpCtes("ud2_", "uw", "cnt", "uv1m", mpl, steps),
      countsCte("uc2", "ud2_F"),
      unigramScoreCte("uv2", "uc2")
    ).mkString(",\n")
  }

  /** Shared encode cascade: train, then the Viterbi DP over the corpus
    * distinct-word relation (`ue_F`), with `udw` carrying per-doc word
    * occurrences for the join-back. */
  private def unigramEncodeCtes: String =
    s"""${unigramTrainCtes},
       |udw AS MATERIALIZED (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
       |    FROM documents)
       |  WHERE word <> ''),
       |udd AS MATERIALIZED (SELECT DISTINCT word FROM udw),
       |${unigramDpCtes("ue_", "udd", "", "uv2m", 4, 10)}""".stripMargin

  /** T3/T5/T6/T7: tokenizer-layer layouts as deterministic relations
    * (`tabular_tokenizer.py:77-80,127-143`, `tabular_dataset.py:152-192`).
    * Per nation row: a [CLS]/[SEP]-structured token sequence, its
    * column-position encoding (cumsum of SEPs, 0 at specials), the seeded
    * MLM mask plan (MD5-derived draws DuckDB replays bit-for-bit), the
    * budgeted pair-concat with the region side, and a one-hot label —
    * every channel rendered as a joined string for the hash compare. */
  private def tokenizerLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.TokenizerOps._
    val reg = t(s, dir, "region").select(col("r_regionkey"),
      concat(array(lit("[CLS]")), split(col("r_name"), " "),
        array(lit("[SEP]"))).as("rtoks"))
    val toks = concat(array(lit("[CLS]")), split(col("n_name"), " "),
      array(lit("[SEP]"), col("n_nationkey").cast("string"), lit("[SEP]"),
        col("n_regionkey").cast("string"), lit("[SEP]")))
    def strs(c: Column): Column = transform(c, _.cast("string"))
    t(s, dir, "nation")
      .select(col("n_nationkey").cast("long").as("key"),
        col("n_regionkey"), toks.as("toks"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("key"),
        array_join(col("toks"), " ").as("tokens_s"),
        array_join(strs(colPositionEncoding(col("toks"))), ",").as("colenc_s"),
        array_join(mlmMaskPlan(col("toks"), col("key")), ",").as("mask_s"),
        array_join(pairConcat(col("toks"), col("rtoks"), 8), " ").as("pair_s"),
        array_join(strs(transform(oneHot(array(col("n_regionkey")), 5),
          _.cast("int"))), ",").as("onehot_s"))
      .orderBy("key")
  }

  /** t2_tokenizer_layout: DuckDB replays the tokenizer-layer layouts —
    * position encoding via a windowed SEP count, the MLM mask plan via the
    * same md5-low32 draws (`md5_number_lower & 0xffffffff`, 0-based
    * positions), pair concat via list slices. */
  private def tokenizerLayoutSql: String = {
    def mdraw(k: Int): String =
      s"(md5_number_lower(CAST(key AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR) || ':$k') & 4294967295) % 10000 / 10000.0"
    val onehot = (0 until 5)
      .map(c => s"CAST(CASE WHEN n.n_regionkey = $c THEN 1 ELSE 0 END AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""WITH n AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS key, n_regionkey,
       |    ['[CLS]'] || string_split(n_name, ' ') ||
       |    ['[SEP]', CAST(n_nationkey AS VARCHAR), '[SEP]',
       |     CAST(n_regionkey AS VARCHAR), '[SEP]'] AS toks
       |  FROM nation),
       |r AS (SELECT r_regionkey,
       |    ['[CLS]'] || string_split(r_name, ' ') || ['[SEP]'] AS rtoks
       |  FROM region),
       |pos AS (SELECT key, i0 + 1 AS i, toks[i0 + 1] AS tok
       |        FROM (SELECT key, toks, unnest(range(len(toks))) AS i0 FROM n)),
       |pos2 AS (SELECT key, i, tok,
       |    coalesce(sum(CASE WHEN tok = '[SEP]' THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY key ORDER BY i
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seps_before
       |  FROM pos),
       |enc AS (SELECT key, i,
       |    CASE WHEN tok IN ('[CLS]', '[SEP]', '[PAD]', '[MASK]') THEN 0
       |         ELSE 1 + CAST(seps_before AS INT) END AS ce,
       |    CASE WHEN tok IN ('[CLS]', '[SEP]', '[PAD]') THEN 'keep'
       |         WHEN ${mdraw(1)} >= 0.15 THEN 'keep'
       |         WHEN ${mdraw(2)} < 0.8 THEN 'mask'
       |         WHEN ${mdraw(2)} < 0.9 THEN 'random'
       |         ELSE 'keep_masked' END AS action
       |  FROM pos2),
       |agg AS (SELECT key,
       |    array_to_string(list(ce ORDER BY i), ',') AS colenc_s,
       |    array_to_string(list(action ORDER BY i), ',') AS mask_s
       |  FROM enc GROUP BY key)
       |SELECT n.key, array_to_string(n.toks, ' ') AS tokens_s,
       |  agg.colenc_s, agg.mask_s,
       |  array_to_string(n.toks[1:4] || r.rtoks[1:4], ' ') AS pair_s,
       |  $onehot AS onehot_s
       |FROM n JOIN r ON n.n_regionkey = r.r_regionkey JOIN agg USING (key)
       |ORDER BY key""".stripMargin
  }

  /** T2 WordPiece, oracle-verified: vocab built from docs ≤20 (chars +
    * `##`-continuations at max freq, whole words by frequency, ids by
    * (freq desc, piece) — fully deterministic), then greedy
    * longest-match-first encoding of docs ≤10 at maxLen=32 (reference
    * `tabular_tokenizer.py:246`). The greedy choice at each (word,
    * position) is history-independent, so DuckDB replays it: precompute
    * per-position best matches, follow the path with a recursive CTE,
    * reassemble `[CLS] body [SEP]` + padding relationally. The encoded id
    * streams pin the whole vocab construction transitively. */
  private def wordpieceQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val vocab = graft.ml.WordPiece.buildVocab(
      docs.filter(col("doc_id") <= 20), "text", maxSize = 60)
    graft.ml.WordPiece.encode(
      docs.filter(col("doc_id") <= 10), "text", vocab, maxLen = 32)
      .select(col("doc_id").cast("long").as("doc_id"),
        array_join(col("input_ids"), ",").as("input_ids"),
        array_join(col("attention_mask"), ",").as("attention_mask"))
      .orderBy("doc_id")
  }

  // WordPiece replay: the greedy longest-match choice at each (word,
  // position) does not depend on segmentation history, so `best`
  // precomputes it per position and `walk` just follows the path.
  // Constants mirror wordpieceQ: vocab docs<=20, maxSize 60 (56 pieces
  // after the 4 specials), encode docs<=10, maxLen 32 (30 body slots).
  private def wordpieceSql: String =
    """WITH RECURSIVE
      |words AS (
      |  SELECT w FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |    FROM documents WHERE doc_id <= 20) WHERE w <> ''),
      |chars AS (
      |  SELECT DISTINCT c AS piece FROM (
      |    SELECT unnest(string_split(w, '')) AS c
      |    FROM (SELECT DISTINCT w FROM words)) WHERE c <> ''),
      |cand AS (
      |  SELECT piece, 9223372036854775807 AS freq FROM chars
      |  UNION ALL SELECT '##' || piece, 9223372036854775807 FROM chars
      |  UNION ALL SELECT w AS piece, count(*) AS freq FROM words GROUP BY w),
      |lim AS (
      |  SELECT piece, max(freq) AS freq FROM cand GROUP BY piece
      |  ORDER BY max(freq) DESC, piece LIMIT 56),
      |vocab AS (
      |  SELECT piece, CAST(id AS BIGINT) AS id FROM (VALUES
      |    ('[PAD]', 0), ('[UNK]', 1), ('[CLS]', 2), ('[SEP]', 3)) sp(piece, id)
      |  UNION ALL
      |  SELECT piece, CAST(row_number() OVER (ORDER BY freq DESC, piece) + 3 AS BIGINT)
      |  FROM lim),
      |dw AS (
      |  SELECT DISTINCT w FROM (
      |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS w
      |    FROM documents WHERE doc_id <= 10) WHERE w <> ''),
      |pieces AS (
      |  SELECT id, piece LIKE '##%' AS cont,
      |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END AS core
      |  FROM vocab WHERE piece NOT LIKE '[%'),
      |wp AS (SELECT w, unnest(generate_series(1, length(w))) AS pos FROM dw),
      |best AS (
      |  SELECT wp.w, wp.pos, arg_max(p.id, length(p.core)) AS pid,
      |    max(length(p.core)) AS plen
      |  FROM wp JOIN pieces p
      |    ON p.cont = (wp.pos > 1)
      |   AND substr(wp.w, wp.pos, length(p.core)) = p.core
      |  GROUP BY wp.w, wp.pos),
      |walk(w, pos, ids) AS (
      |  SELECT w, 1, CAST([] AS BIGINT[]) FROM dw
      |  UNION ALL
      |  SELECT x.w, x.pos + b.plen, list_append(x.ids, b.pid)
      |  FROM walk x JOIN best b ON b.w = x.w AND b.pos = x.pos),
      |wseg AS (
      |  SELECT d.w,
      |    coalesce(t.ids, list_value((SELECT id FROM vocab WHERE piece = '[UNK]'))) AS ids
      |  FROM dw d LEFT JOIN
      |    (SELECT w, ids FROM walk WHERE pos = length(w) + 1) t ON t.w = d.w),
      |toks AS (
      |  SELECT doc_id, w, o FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(lower(text), '\s+')) AS w,
      |      unnest(generate_series(1, len(regexp_split_to_array(lower(text), '\s+')))) AS o
      |    FROM documents WHERE doc_id <= 10) WHERE w <> ''),
      |enc AS (
      |  SELECT t.doc_id,
      |    list_concat(
      |      list_value((SELECT id FROM vocab WHERE piece = '[CLS]')),
      |      list_append(
      |        list_slice(flatten(list(s.ids ORDER BY t.o)), 1, 30),
      |        (SELECT id FROM vocab WHERE piece = '[SEP]'))) AS ids
      |  FROM toks t JOIN wseg s ON s.w = t.w GROUP BY t.doc_id)
      |SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  array_to_string(ids, ',') || repeat(',0', 32 - len(ids)) AS input_ids,
      |  array_to_string(list_transform(ids, x -> 1), ',')
      |    || repeat(',0', 32 - len(ids)) AS attention_mask
      |FROM enc ORDER BY doc_id""".stripMargin

  /** BPE tokenizer training (Sennrich et al. 2016): learn 8 merges over
    * the documents word-frequency relation (top-40 words, deterministic
    * cap). The oracle replays ALL 8 rounds — weighted pair counts,
    * (count desc, pair asc) winner, greedy left-to-right rewrite with
    * run-parity semantics — as an unrolled CTE cascade, so the learned
    * merge table must match exactly.
    */
  private def bpeTrainQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Bpe
    val wf = Bpe.wordFreq(t(s, dir, "documents"), "text", maxWords = Some(40))
    val (merges, _) = Bpe.train(wf, 8)
    import s.implicits._
    merges.toDF()
      .select(col("rank").cast("long").as("merge_rank"),
        col("left").as("lhs"), col("right").as("rhs"), col("pair_count"))
      .orderBy("merge_rank")
  }

  private def bpeTrainSql: String = {
    val numRounds = 8
    val sel = (1 to numRounds)
      .map(k => s"SELECT $k AS merge_rank, lhs, rhs, CAST(c AS BIGINT) AS pair_count FROM b$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeTrainCtes(numRounds)}
       |SELECT CAST(merge_rank AS BIGINT) AS merge_rank, lhs, rhs, pair_count
       |FROM (
       |  $sel)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Unigram-LM (SentencePiece-style) tokenizer training
    * ([[graft.ml.Unigram.train]]): seed substring vocab over the top-40
    * word-frequency relation, two hard-EM rounds (Viterbi counts →
    * zero-count prune → rescore). The oracle replays the seed, every
    * unrolled Viterbi DP step, and both rescores — the final vocabulary
    * (piece, count, micro-quantized log-prob) must match exactly. */
  private def unigramTrainQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Unigram
    val wf = Unigram.wordFreq(t(s, dir, "documents"), "text", maxWords = 40)
    Unigram.train(wf, maxPieceLen = 4, maxSeed = 60, emRounds = 2)
      .select(col("piece"), col("cnt").cast("long").as("cnt"),
        (col("sc").cast("double") / 1e6).as("score_r"))
      .orderBy("piece")
  }

  /** t2_unigram_train: the full EM replay — seed, two Viterbi-count
    * rounds, final rescored vocabulary. */
  private def unigramTrainSql: String =
    s"""WITH ${unigramTrainCtes}
       |SELECT piece, cnt, CAST(sc AS DOUBLE) / 1000000.0 AS score_r
       |FROM uv2 ORDER BY piece""".stripMargin

  /** Unigram-LM corpus encoding: Viterbi-segment every document's words
    * under the trained vocabulary (same run as `t2_unigram_train`,
    * distinct-word discipline); per-doc word/subword counts plus the
    * exact-integer path log-likelihood pin the segmentation. */
  private def unigramEncodeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Unigram
    val docs = t(s, dir, "documents")
    val vocab = Unigram.collectVocab(Unigram.train(
      Unigram.wordFreq(docs, "text", maxWords = 40),
      maxPieceLen = 4, maxSeed = 60, emRounds = 2))
    Unigram.encodeCorpus(docs, "text", "doc_id", vocab, maxPieceLen = 4)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).cast("long").as("n_subwords"),
        (sum(col("sc")).cast("double") / 1e6).as("loglik_r"))
      .orderBy("doc_id")
  }

  /** t2_unigram_encode: train (same cascade), then Viterbi-encode every
    * document's words under the final vocab — per-doc word/subword
    * counts and the exact-integer path log-likelihood. */
  private def unigramEncodeSql: String =
    s"""WITH $unigramEncodeCtes
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(len(e.segs)) AS BIGINT) AS n_subwords,
       |  CAST(sum(e.wsc) AS DOUBLE) / 1000000.0 AS loglik_r
       |FROM udw JOIN ue_F e USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility per language under the corpus-trained
    * unigram-LM vocabulary — the same multilingual-vocabulary health
    * table `t2_bpe_fertility` publishes for BPE, so the two trainers'
    * segmentation efficiency is directly comparable on one corpus.
    * Manual half-away-from-zero rounding for the ratio (the
    * `t_ppl_buckets` boundary lesson applied from the start). */
  private def unigramFertilityQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Unigram
    val docs = t(s, dir, "documents")
    val vocab = Unigram.collectVocab(Unigram.train(
      Unigram.wordFreq(docs, "text", maxWords = 40),
      maxPieceLen = 4, maxSeed = 60, emRounds = 2))
    val q = sum(size(col("pieces"))).cast("double") /
      count(lit(1)) * lit(1000000.0)
    Unigram.encodeCorpus(docs, "text", "doc_id", vocab, maxPieceLen = 4)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(sum(size(col("pieces"))).cast("long").as("n_subwords"),
        count(lit(1)).as("n_words"),
        (when(q >= 0, floor(q + 0.5)).otherwise(ceil(q - 0.5)) / lit(1000000.0))
          .as("fertility"))
      .orderBy("lang")
  }

  /** t2_unigram_fertility: the encode cascade aggregated per LANGUAGE —
    * the `t2_bpe_fertility` health table under the unigram trainer,
    * with the manual half-away-from-zero ratio rounding. */
  private def unigramFertilitySql: String =
    s"""WITH $unigramEncodeCtes,
       |ag AS (
       |  SELECT d.lang, CAST(sum(len(e.segs)) AS BIGINT) AS n_subwords,
       |    count(*) AS n_words,
       |    CAST(sum(len(e.segs)) AS DOUBLE) / count(*) * 1000000 AS q
       |  FROM udw JOIN ue_F e USING (word) JOIN documents d USING (doc_id)
       |  GROUP BY d.lang)
       |SELECT lang, n_subwords, n_words,
       |  (CASE WHEN q >= 0 THEN floor(q + 0.5) ELSE ceil(q - 0.5) END) / 1000000.0
       |    AS fertility
       |FROM ag ORDER BY lang""".stripMargin

  /** Likelihood-quota prune decision table
    * ([[graft.ml.Unigram.pruneByLoss]]): the trained unigram vocab
    * ranked by the exact micro-nat corpus-likelihood loss of removing
    * each multi-char piece (per-word alt-path Viterbi under the map
    * minus that piece), essential pieces flagged, quota = all single
    * chars + top-12 multis. The oracle replays the trainer cascade,
    * the best-path DP, AND the per-(word, piece) alt-path DP with a
    * per-row score map. */
  private def unigramPruneQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Unigram
    val wf = Unigram.wordFreq(t(s, dir, "documents"), "text", maxWords = 40)
    val vocab = Unigram.train(wf, maxPieceLen = 4, maxSeed = 60, emRounds = 2)
    val nSingles = Unigram.collectVocab(vocab).count(_._1.length == 1)
    Unigram.pruneByLoss(wf, vocab, targetSize = nSingles + 12, maxPieceLen = 4)
      .select(col("piece"), col("cnt").cast("long").as("cnt"), col("loss"),
        col("essential"), col("kept"))
      .orderBy("piece")
  }

  /** t2_unigram_prune: the likelihood-quota prune decision table — best
    * paths under the trained vocab (`up_`), then a PER-ROW-MAP alt-path
    * DP (`ua_`): each (word, used-multi-piece) row re-segments under the
    * vocab map with that piece deleted; exact micro-nat loss sums, the
    * essential flag for pieces whose removal breaks segmentability, and
    * the top-12-multis quota rank ((essential, loss) desc, piece asc).
    * Single characters are never candidates and always keep. */
  private def unigramPruneSql: String =
    s"""WITH ${unigramTrainCtes},
       |${unigramDpCtes("up_", "uw", "cnt", "uv2m", 4, 10)},
       |upu AS MATERIALIZED (
       |  SELECT word, cnt, best_sc, piece FROM (
       |    SELECT word, cnt, wsc AS best_sc,
       |      unnest(list_distinct(list_filter(segs, p -> length(p) > 1))) AS piece
       |    FROM up_F)),
       |ua0 AS MATERIALIZED (
       |  SELECT word, cnt, best_sc, piece,
       |    map_from_entries(list_filter(map_entries(v.m), e -> e.key <> piece)) AS m
       |  FROM upu, uv2m v),
       |${unigramDpCtes("ua_", "ua0", "m, cnt, best_sc, piece", "", 4, 10)},
       |ulos AS (
       |  SELECT piece,
       |    max(CASE WHEN wsc IS NULL THEN 1 ELSE 0 END) = 1 AS essential,
       |    CAST(sum(cnt * (best_sc - coalesce(wsc, best_sc))) AS BIGINT) AS loss
       |  FROM ua_F GROUP BY piece)
       |SELECT piece, cnt, CAST(NULL AS BIGINT) AS loss, FALSE AS essential,
       |  TRUE AS kept
       |FROM uv2 WHERE length(piece) = 1
       |UNION ALL
       |SELECT piece, cnt, loss, essential,
       |  essential OR
       |  row_number() OVER (ORDER BY essential DESC, loss DESC, piece) <= 12
       |    AS kept
       |FROM (
       |  SELECT v.piece, v.cnt, coalesce(l.loss, 0) AS loss,
       |    coalesce(l.essential, FALSE) AS essential
       |  FROM uv2 v LEFT JOIN ulos l USING (piece)
       |  WHERE length(v.piece) > 1)
       |ORDER BY piece""".stripMargin

  /** Side-by-side tokenizer-trainer comparison — BPE vs unigram-LM
    * trained on the IDENTICAL capped word-frequency relation and
    * encoding the identical corpus, one row each: learned vocab size,
    * corpus word/subword/char totals, chars-per-subword (compression)
    * and fertility — the table an engineer reads to pick a trainer.
    * (WordPiece is excluded by design: `t2_wordpiece` trains on doc
    * snippets with special tokens, a different corpus contract.)
    * BPE subword counts include the `</w>` end-mark pieces — that is
    * the BPE segmentation's own accounting, not an adjustment. */
  private def tokenizerCompareQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.{Bpe, Unigram}
    val docs = t(s, dir, "documents")
    def ratio6(num: Column, den: Column): Column = {
      val q = num.cast("double") / den * lit(1000000.0)
      when(q >= 0, floor(q + 0.5)).otherwise(ceil(q - 0.5)) / lit(1000000.0)
    }
    // BPE arm: 8 merges on the top-40 word-freq relation
    val (merges, trained) = Bpe.train(
      Bpe.wordFreq(docs, "text", maxWords = Some(40)), 8)
    val bpeVocab = Bpe.vocab(trained).agg(count(lit(1)).as("vocab_pieces"))
    val bpeEnc = Bpe.encodeCorpus(docs, "text", "doc_id", merges)
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("subwords"))).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"))
    // each arm is ONE row — checkpoint it so the union's final plan
    // cannot re-evaluate the trainer+encode cascades per consumer
    val bpeRow = bpeVocab.crossJoin(bpeEnc)
      .select(lit("bpe").as("tokenizer"), col("vocab_pieces"),
        col("n_words"), col("n_subwords"), col("n_chars"),
        ratio6(col("n_chars"), col("n_subwords")).as("chars_per_subword"),
        ratio6(col("n_subwords"), col("n_words")).as("fertility"))
      .localCheckpoint(true)
    // Unigram arm: same word-freq relation, 2 EM rounds
    val uniVocabDf = Unigram.train(Unigram.wordFreq(docs, "text", 40),
      maxPieceLen = 4, maxSeed = 60, emRounds = 2)
    val uniVocab = uniVocabDf.agg(count(lit(1)).as("vocab_pieces"))
    val uniEnc = Unigram.encodeCorpus(docs, "text", "doc_id",
        Unigram.collectVocab(uniVocabDf), maxPieceLen = 4)
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).cast("long").as("n_subwords"),
        sum(length(col("word"))).cast("long").as("n_chars"))
    val uniRow = uniVocab.crossJoin(uniEnc)
      .select(lit("unigram").as("tokenizer"), col("vocab_pieces"),
        col("n_words"), col("n_subwords"), col("n_chars"),
        ratio6(col("n_chars"), col("n_subwords")).as("chars_per_subword"),
        ratio6(col("n_subwords"), col("n_words")).as("fertility"))
      .localCheckpoint(true)
    bpeRow.unionByName(uniRow).orderBy("tokenizer")
  }

  /** t2_tokenizer_compare: BOTH trainer cascades (BPE 8-merge + unigram
    * 2-round EM) over the identical word-freq relation, each encoding
    * the identical corpus — vocab sizes, word/subword/char totals, and
    * the manual-rounded compression/fertility ratios, one row each. */
  private def tokenizerCompareSql: String = {
    val numRounds = 8
    val dw0 =
      """dw0 AS (
        |  SELECT doc_id, word,
        |    list_append([substr(word, i, 1) FOR i IN range(1, length(word) + 1)],
        |                '</w>') AS syms
        |  FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '')""".stripMargin
    val encRounds = (1 to numRounds).map(k =>
      bpeRewriteCte(s"dw${k - 1}", s"b$k", s"dw$k", "doc_id, word"))
    def arm(tok: String, vocabSql: String, encFrom: String,
            subLen: String): String =
      s"""SELECT '$tok' AS tokenizer,
         |  ($vocabSql) AS vocab_pieces,
         |  count(*) AS n_words,
         |  CAST(sum($subLen) AS BIGINT) AS n_subwords,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(length(word)) AS DOUBLE) / sum($subLen) * 1000000 AS qc,
         |  CAST(sum($subLen) AS DOUBLE) / count(*) * 1000000 AS qf
         |FROM $encFrom""".stripMargin
    val bpeArm = arm("bpe",
      s"(SELECT count(DISTINCT s) FROM (SELECT unnest(syms) AS s FROM w$numRounds))",
      s"dw$numRounds", "len(syms)")
    val uniArm = arm("unigram",
      "(SELECT count(*) FROM uv2)",
      "udw JOIN ue_F e USING (word)", "len(e.segs)")
    s"""WITH ${bpeTrainCtes(numRounds)},
       |${(dw0 +: encRounds).mkString(",\n")},
       |$unigramEncodeCtes
       |SELECT tokenizer, CAST(vocab_pieces AS BIGINT) AS vocab_pieces,
       |  n_words, n_subwords, n_chars,
       |  (CASE WHEN qc >= 0 THEN floor(qc + 0.5) ELSE ceil(qc - 0.5) END)
       |    / 1000000.0 AS chars_per_subword,
       |  (CASE WHEN qf >= 0 THEN floor(qf + 0.5) ELSE ceil(qf - 0.5) END)
       |    / 1000000.0 AS fertility
       |FROM (
       |$bpeArm
       |UNION ALL
       |$uniArm)
       |ORDER BY tokenizer""".stripMargin
  }

  /** §2.12 streaming unigram encode: the trained vocabulary's
    * distinct-word segmentation relation is STATIC (computed once,
    * localCheckpointed); each micro-batch explodes its words and
    * stream-static joins the segmentation — the `Bpe.encodeCorpus`
    * type/token discipline carried to streams. One complete-mode
    * per-language aggregation; streamed == batch IS the oracle. */
  private def streamingUnigramQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.ml.Unigram
    val name = s"st_unigram_${streamSeq.incrementAndGet()}"
    val docs = t(s, dir, "documents")
    val vocab = Unigram.collectVocab(Unigram.train(
      Unigram.wordFreq(docs, "text", maxWords = 40),
      maxPieceLen = 4, maxSeed = 60, emRounds = 2))
    val vm = Unigram.scoreMapLit(vocab)
    val encoded = docs
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "").distinct()
      .withColumn("__b", Unigram.viterbi(col("word"), vm, maxPieceLen = 4))
      .select(col("word"), col("__b").getField("segs").as("pieces"),
        col("__b").getField("sc").as("sc"))
      .localCheckpoint(true)
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val words = widenStream(stream).select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
    runStreamNarrow(s)(words.join(encoded, "word")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("pieces"))).cast("long").as("n_subwords"),
        (sum(col("sc")).cast("double") / 1e6).as("loglik_r"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("lang")
  }

  /** st_stream_unigram: streamed == batch — the per-language encode
    * rollup with the exact-integer path log-likelihood sum. */
  private def unigramStreamSql: String =
    s"""WITH $unigramEncodeCtes
       |SELECT d.lang, count(*) AS n_words,
       |  CAST(sum(len(e.segs)) AS BIGINT) AS n_subwords,
       |  CAST(sum(e.wsc) AS DOUBLE) / 1000000.0 AS loglik_r
       |FROM udw JOIN ue_F e USING (word) JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** BPE corpus encoding: apply the trained merges (same training run as
    * `t2_bpe_train`) to every document's words; per-doc subword and word
    * counts pin the segmentation corpus-wide. Oracle replays training +
    * 8 encode rounds.
    */
  private def bpeEncodeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Bpe
    val docs = t(s, dir, "documents")
    val (merges, _) = Bpe.train(
      Bpe.wordFreq(docs, "text", maxWords = Some(40)), 8)
    Bpe.encodeCorpus(docs, "text", "doc_id", merges)
      .groupBy("doc_id")
      .agg(sum(size(col("subwords"))).cast("long").as("n_subwords"),
        count(lit(1)).as("n_words"))
      .orderBy("doc_id")
  }

  /** t2_bpe_encode: encode EVERY document's words with the trained
    * merges (8 more unrolled rewrite rounds over the per-doc word
    * relation, reusing the training cascade's b$k winners) — per-doc
    * subword/word counts pin the segmentation corpus-wide.
    */
  private def bpeEncodeSql: String = {
    val numRounds = 8
    val dw0 =
      """dw0 AS (
        |  SELECT doc_id, word,
        |    list_append([substr(word, i, 1) FOR i IN range(1, length(word) + 1)],
        |                '</w>') AS syms
        |  FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '')""".stripMargin
    val encRounds = (1 to numRounds).map(k =>
      bpeRewriteCte(s"dw${k - 1}", s"b$k", s"dw$k", "doc_id, word"))
    s"""WITH ${bpeTrainCtes(numRounds)},
       |${(dw0 +: encRounds).mkString(",\n")}
       |SELECT doc_id, CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
       |  count(*) AS n_words
       |FROM dw$numRounds GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Tokenizer fertility per language (subwords emitted per word) under
    * the corpus-trained BPE — the table a multilingual pipeline reports
    * to spot languages the vocabulary underserves (high fertility =
    * more sequence length per word = more compute per document). Same
    * training run as `t2_bpe_train`; the encode relation joins back to
    * the documents table for language, then one keyed aggregation. */
  private def bpeFertilityQ(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.Bpe
    val docs = t(s, dir, "documents")
    val (merges, _) = Bpe.train(
      Bpe.wordFreq(docs, "text", maxWords = Some(40)), 8)
    Bpe.encodeCorpus(docs, "text", "doc_id", merges)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(sum(size(col("subwords"))).cast("long").as("n_subwords"),
        count(lit(1)).as("n_words"))
      .withColumn("fertility",
        round(col("n_subwords").cast("double") / col("n_words"), 6))
      .orderBy("lang")
  }

  /** t2_bpe_fertility: the encode cascade again (same trained merges),
    * aggregated per LANGUAGE with the subwords-per-word ratio — the
    * multilingual-vocabulary health table. */
  private def bpeFertilitySql: String = {
    val numRounds = 8
    val dw0 =
      """dw0 AS (
        |  SELECT doc_id, word,
        |    list_append([substr(word, i, 1) FOR i IN range(1, length(word) + 1)],
        |                '</w>') AS syms
        |  FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '')""".stripMargin
    val encRounds = (1 to numRounds).map(k =>
      bpeRewriteCte(s"dw${k - 1}", s"b$k", s"dw$k", "doc_id, word"))
    s"""WITH ${bpeTrainCtes(numRounds)},
       |${(dw0 +: encRounds).mkString(",\n")}
       |SELECT d.lang, CAST(sum(len(syms)) AS BIGINT) AS n_subwords,
       |  count(*) AS n_words,
       |  round(CAST(sum(len(syms)) AS DOUBLE) / count(*), 6) AS fertility
       |FROM dw$numRounds e JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t2_tokenizer_layout", tokenizerLayout, tokenizerLayoutSql),
    QuerySpec("t2_wordpiece", wordpieceQ, wordpieceSql),
    QuerySpec("t2_bpe_train", bpeTrainQ, bpeTrainSql),
    QuerySpec("t2_unigram_train", unigramTrainQ, unigramTrainSql),
    QuerySpec("t2_unigram_encode", unigramEncodeQ, unigramEncodeSql),
    QuerySpec("t2_unigram_fertility", unigramFertilityQ, unigramFertilitySql),
    QuerySpec("t2_unigram_prune", unigramPruneQ, unigramPruneSql),
    QuerySpec("t2_tokenizer_compare", tokenizerCompareQ, tokenizerCompareSql),
    QuerySpec("st_stream_unigram", streamingUnigramQ, unigramStreamSql),
    QuerySpec("t2_bpe_encode", bpeEncodeQ, bpeEncodeSql),
    QuerySpec("t2_bpe_fertility", bpeFertilityQ, bpeFertilitySql))
}
