package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFunctions._
import graft.functions.SketchFunctions._

/** Per-document text-analysis profile over a documents relation —
  * language ID, quality scoring, token counting, fingerprinting. One
  * narrow projection, no shuffle; every metric is codegen'd except the
  * language scorer.
  */
object TextAnalysis {

  /** Collocation mining — adjacent-word pairs ranked by pointwise mutual
    * information `ln(n·c_xy / (c_x·c_y))`, the standard collocation
    * statistic: high-PMI bigrams are phrases, not chance co-occurrence.
    * Counts are corpus-wide exact integers; the ln argument is one
    * division of exact integer products and the ln is 6-dp-rounded, so
    * the ranking replays engine-exactly. Pairs below `minCount` are
    * noise-filtered (classic PMI degenerates at count 1).
    *
    * Scale: one bigram shuffle + one unigram shuffle, join keyed on the
    * words; top-k via a single ordered limit. Output: (w1, w2, n_pair,
    * pmi), k rows.
    */
  def collocations(docs: DataFrame, k: Int = 20, minCount: Int = 5,
                   textCol: String = "text"): DataFrame = {
    val words = docs.select(
      split(lower(trim(col(s"`$textCol`"))), "\\s+").as("w"))
    val uni = words.select(explode(col("w")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    val big = words
      .select(explode(zip_with(col("w"),
        slice(col("w"), lit(2), greatest(size(col("w")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .filter(col("p.w2").isNotNull)
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val n = uni.agg(sum(col("c")).as("n_tok"))
    big
      .join(uni.select(col("t").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(
        (col("n_tok") * col("n_pair")).cast("double") /
          (col("c1") * col("c2")).cast("double")), 6))
      .select(col("w1"), col("w2"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }
  /** Tokenizer-vocabulary coverage: per-language OOV rate against the
    * corpus' own top-`vocabSize` tokens — the go/no-go report before
    * committing a tokenizer vocab to a pretraining mix (a language whose
    * OOV rate spikes is under-served by the vocab and will fragment into
    * bytes/unk at training time).
    *
    * Scale: the token explosion carries (lang, token) only; the vocab is
    * a `vocabSize`-row relation cut by a distributed ordered limit
    * (TakeOrdered — no global window) and BROADCAST to the membership
    * join, so the wide side shuffles once for the per-language rollup.
    * Ties at the frequency cut resolve lexicographically, so the vocab —
    * and the whole report — is deterministic. Output: (lang, n_tokens,
    * n_oov, oov_rate).
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int = 10,
                    langCol: String = "lang", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(s"`$langCol`").as("lang"),
        explode(split(lower(trim(col(s"`$textCol`"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }

  /** Zipf-law fit of the token frequency distribution: OLS of
    * `ln(freq)` on `ln(rank)` — a natural corpus has slope ≈ −1; a
    * synthetic or templated one is flat (slope ≈ 0). The conformance
    * check that catches machine-generated filler before it enters a mix.
    *
    * Exactness: both logs are 6-dp-rounded then micro-quantized, so the
    * OLS moment sums are EXACT integers (the micro-nat discipline);
    * slope is one double division of integer moments, and r² squares
    * the same integer moments in double (they exceed long range only
    * when squared). Ranks come from a window-free distributed position
    * pass over the (f desc, tok)-sorted vocabulary
    * ([[graft.operators.Ranking.withPosition]]) — a web-corpus vocab
    * runs to hundreds of millions of terms, far past what a global
    * single-reducer rank window tolerates. Output: one row
    * (n_terms, slope, r2).
    */
  def zipfFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val freq = docs.select(
        explode(split(lower(trim(col(s"`$textCol`"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val ranked = Ranking
      .withPosition(freq.orderBy(col("f").desc, col("tok")), "r")
      .select(
        round(round(log(col("r").cast("double")), 6) * 1000000, 0)
          .cast("long").as("lx"),
        round(round(log(col("f").cast("double")), 6) * 1000000, 0)
          .cast("long").as("ly"))
    ranked.agg(count(lit(1)).as("n"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(col("lx") * col("ly")).as("sxy"),
        sum(col("lx") * col("lx")).as("sxx"),
        sum(col("ly") * col("ly")).as("syy"))
      .withColumn("__num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("__dx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("__dy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("n").as("n_terms"),
        when(col("__dx") === 0, lit(0.0))
          .otherwise(round(col("__num").cast("double") /
            col("__dx").cast("double"), 6)).as("slope"),
        when(col("__dx") === 0 || col("__dy") === 0, lit(0.0))
          .otherwise(round(
            col("__num").cast("double") * col("__num").cast("double") /
              (col("__dx").cast("double") * col("__dy").cast("double")), 6))
          .as("r2"))
  }

  def analyze(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      length(t).as("n_chars"),
      token_count(t).as("n_tokens"),
      subword_count(t).as("n_subwords"),
      round(punct_ratio(t), 6).as("punct_ratio"),
      round(stopword_ratio(t), 6).as("stopword_ratio"),
      round(mean_token_len(t), 6).as("mean_token_len"),
      quality_score(t).as("quality"),
      doc_fingerprint(t).as("fingerprint"),
      lang_id(t).as("lang_pred"),
      simhash64(t).as("simhash"))
  }

  /** Rule thresholds for [[qualityFilter]] — Gopher-style corpus rules
    * (token-count window, word-length window, symbol ceiling; Rae et al.
    * 2021, "Scaling Language Models", App. A1.1 — public paper, see
    * PAPERS.md). Metrics are compared AFTER round-6, so an independent
    * engine applying the same rules to the same text agrees exactly.
    */
  final case class QualityRules(
      minTokens: Long = 50, maxTokens: Long = 100000,
      minMeanTokenLen: Double = 3.0, maxMeanTokenLen: Double = 10.0,
      maxPunctRatio: Double = 0.2)

  /** Per-document rule flags + the keep verdict. Narrow projection, no
    * shuffle — the 100 TB shape is scan → filter, nothing else.
    */
  def qualityFilter(docs: DataFrame, rules: QualityRules = QualityRules(),
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nTok = token_count(t)
    val mtl = round(mean_token_len(t), 6)
    val pr = round(punct_ratio(t), 6)
    docs.withColumn("ok_tokens",
        nTok >= rules.minTokens && nTok <= rules.maxTokens)
      .withColumn("ok_word_len",
        mtl >= rules.minMeanTokenLen && mtl <= rules.maxMeanTokenLen)
      .withColumn("ok_punct", pr <= rules.maxPunctRatio)
      .withColumn("keep", col("ok_tokens") && col("ok_word_len") && col("ok_punct"))
  }

  /** Sequence-length histogram + padding-waste report — what a training
    * run reads before choosing max_len and deciding whether
    * [[packSequences]] is worth its shuffle: token-count distribution in
    * `binTokens`-wide bins, plus the tokens a naive one-doc-per-sequence
    * loader would PAD at `maxLen` (each doc occupies
    * `ceil(n/maxLen)` sequences; the remainder of the last one is
    * padding). Exact integers throughout; the waste ratio is one
    * rounded division. One map-side-combined aggregation.
    */
  def lengthHistogram(docs: DataFrame, binTokens: Int = 64,
                      maxLen: Int = 512, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(binTokens >= 1 && maxLen >= 1, "binTokens and maxLen must be >= 1")
    docs.select(token_count(col(textCol)).cast("long").as("n"))
      .select(col("n"),
        expr(s"n div $binTokens").as("bin"),
        (expr(s"(n + ${maxLen - 1}) div $maxLen") * maxLen - col("n")).as("waste"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(col("waste")).as("padding_tokens"))
      .withColumn("waste_ratio",
        when(col("total_tokens") + col("padding_tokens") === 0, lit(0.0))
          .otherwise(round(col("padding_tokens").cast("double") /
            (col("total_tokens") + col("padding_tokens")), 6)))
  }

  /** N-gram novelty — the diversity/memorization probe corpus reports
    * lean on: for each document, the fraction of its DISTINCT word
    * n-grams that occur in no other document (corpus doc-frequency 1).
    * Low novelty marks boilerplate/templated text; high novelty marks
    * unique content worth keeping at full weight.
    *
    * Scale: per-doc distinct grams shuffle ONCE on the gram key
    * (map-side combine collapses in-partition repeats); the df join is
    * co-partitioned on the same key, so the exchange is reused. Short
    * docs (< n tokens) contribute their whole text as one gram, the
    * [[graft.functions.TextFunctions.word_shingles]] convention.
    */
  def ngramNovelty(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val grams = graft.sources.Lake.balance(docs)
      .select(col(idCol).cast("long").as("id"),
        explode(array_distinct(word_shingles(col(textCol), n))).as("gram"))
    val df = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    grams.join(df, "gram")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  /** Unicode SCRIPT-MIX audit — the cheap pre-language-ID signal and
    * corpus-composition report: per group (default: the claimed lang
    * label), exact codepoint counts by script class (Latin, Han, ASCII
    * digit, whitespace, other) and their 6-dp shares. A "en" shard with
    * 30% Han, or a "zh" shard that is mostly Latin, is mislabeled or
    * polluted — catch it BEFORE tokenizer/LID cost.
    *
    * Per-row `regexp_count` projections (codegen'd, no explode of the
    * character stream) → one integer-sum aggregate; shares are one
    * closing division. Java `\p{IsX}` and RE2 `\p{X}` both key off the
    * Unicode Script property, so a DuckDB oracle lands on the same
    * counts.
    */
  def scriptMix(docs: DataFrame, groupCol: String = "lang",
                textCol: String = "text"): DataFrame = {
    def cnt(re: String) =
      regexp_count(col(s"`$textCol`"), lit(re)).cast("long")
    val perDoc = docs.select(col(s"`$groupCol`").as("grp"),
      length(col(s"`$textCol`")).cast("long").as("n_chars"),
      cnt("\\p{IsLatin}").as("latin"), cnt("\\p{IsHan}").as("han"),
      cnt("[0-9]").as("digit"), cnt("\\s").as("ws"))
    perDoc.groupBy("grp")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("latin")).as("latin"), sum(col("han")).as("han"),
        sum(col("digit")).as("digit"), sum(col("ws")).as("ws"))
      .select(col("grp"), col("n_docs"), col("n_chars"),
        round(col("latin").cast("double") / col("n_chars"), 6).as("latin_share"),
        round(col("han").cast("double") / col("n_chars"), 6).as("han_share"),
        round(col("digit").cast("double") / col("n_chars"), 6).as("digit_share"),
        round(col("ws").cast("double") / col("n_chars"), 6).as("ws_share"),
        round((col("n_chars") - col("latin") - col("han") - col("digit") -
          col("ws")).cast("double") / col("n_chars"), 6).as("other_share"))
  }

  /** Repetition metrics (the rest of the Gopher rule family): duplicate
    * word fraction and the share of bigrams taken by the most frequent
    * one. Pure array expressions per row — codegen'd, shuffle-free; the
    * O(distinct·n) inner count is bounded by document length.
    */
  def repetitionMetrics(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    // materialize token/bigram arrays as real columns FIRST: lambda
    // bodies that reference an outer expression tree re-evaluate it per
    // element (the naive distinct×filter top-count was O(n²·tokenize)
    // per row — 160 ms/doc); an attribute reference is computed once
    val staged = docs
      .withColumn("__toks", split(trim(col(textCol)), "\\s+"))
      .withColumn("__bg", array_sort(word_shingles(col(textCol), 2)))
    val nW = size(col("__toks"))
    val dupFrac = when(nW > 0,
      lit(1.0) - size(array_distinct(col("__toks"))).cast("double") / nW)
      .otherwise(lit(0.0))
    // longest equal-run over the SORTED bigrams == max bigram frequency;
    // one O(n) fold instead of distinct×filter
    val topCnt = aggregate(col("__bg"),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val topFrac = when(size(col("__bg")) > 0,
      topCnt.cast("double") / size(col("__bg"))).otherwise(lit(0.0))
    staged.select(col(idCol),
      nW.cast("long").as("n_words"),
      round(dupFrac, 6).as("dup_word_frac"),
      round(topFrac, 6).as("top_bigram_frac"))
  }

  // RE2-compatible PII patterns (work identically in DuckDB's regex
  // engine, so redaction is independently verifiable)
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII scrub: redact emails, then IPv4 addresses, then phone numbers
    * with typed placeholder tokens; append per-kind redaction counts.
    * Counting is sequential on the progressively-scrubbed text — an IPv4
    * would otherwise also match the (digits+separators) phone pattern and
    * double-count. Pure regexp_replace over a projection — codegen'd,
    * shuffle-free.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text",
               outCol: String = "text_clean"): DataFrame = {
    val t = col(textCol)
    def hits(c: Column, re: String) =
      (size(split(c, re, -1)) - 1).cast("long")
    val afterEmail = regexp_replace(t, EmailRe, "[EMAIL]")
    val afterIp = regexp_replace(afterEmail, Ipv4Re, "[IP]")
    docs
      .withColumn("n_emails", hits(t, EmailRe))
      .withColumn("n_ips", hits(afterEmail, Ipv4Re))
      .withColumn("n_phones", hits(afterIp, PhoneRe))
      .withColumn(outCol, regexp_replace(afterIp, PhoneRe, "[PHONE]"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the rolling-hash fingerprint family): hash every character k-gram,
    * slide a w-gram window, keep each window's minimum hash, distinct per
    * document. Guarantee: any substring of length ≥ k+w-1 shared by two
    * documents yields at least one shared fingerprint — the selection a
    * plain "every i-th hash" sample cannot make.
    *
    * Fully relational — position explode + codegen'd md5 hash + ONE
    * window pass partitioned by document (no UDF, no cross-doc shuffle
    * beyond the doc key), so DuckDB replays it hash-for-hash. At corpus
    * scale the k-gram explode is the inherent cost (every winnowing
    * implementation streams every position); Spark's columnar pipeline
    * keeps it in whole-stage codegen.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val grams = docs
      .filter(length(col(textCol)) >= k + w - 1) // too short: no full window
      .select(col(idCol).as("id"), col(textCol).as("t"))
      .select(col("id"), col("t"),
        explode(sequence(lit(0), length(col("t")) - k)).as("p"))
      .select(col("id"), col("p"),
        graft.functions.SketchFunctions.md5_low32(
          expr(s"substring(t, p + 1, $k)")).as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("p").rowsBetween(0, w - 1)
    grams
      .select(col("id"), min(col("h")).over(win).as("fp"),
        count(col("h")).over(win).as("cnt"))
      .filter(col("cnt") === w) // trailing positions lack a full window
      .select(col("id"), col("fp")).distinct()
  }

  /** Sliding-window document chunking for training-sequence prep: split
    * each doc into windows of `chunkTokens` whitespace tokens advancing
    * by `chunkTokens - overlap`, last window keeping the remainder. One
    * narrow projection — `split` + `sequence`-explode + `slice`, all
    * codegen'd, zero shuffle; the chunk explode is the operator's
    * inherent output, exactly like winnowing's k-gram explode. Empty
    * docs produce no chunks.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlap: Int = 0,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .withColumn("chunk_idx", explode(sequence(lit(0),
        when(col("__n") <= chunkTokens, lit(0).cast("long"))
          .otherwise(floor((col("__n") - chunkTokens + stride - 1)
            .cast("double") / stride)))))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"),
        array_join(slice(col("__toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkTokens)), " ").as("chunk_text"),
        least(lit(chunkTokens), col("__n") - col("chunk_idx") * stride)
          .as("n_chunk_tokens"))
  }

  /** Greedy sequence packing for training batches: shard docs by
    * `id % nShards`, then within each shard (in id order) pack docs
    * into bins of at most `maxTokens` whitespace tokens — a new bin
    * opens when the next doc does not fit; oversize docs take a bin
    * alone. Global sequential packing is inherently serial, so real
    * pipelines shard first and pack within shards — that is exactly
    * this operator's shape: one shuffle on the shard key, per-shard
    * state bounded by shard size (size `nShards` for the corpus).
    * Output: one row per doc with its (shard, bin) assignment and
    * token count.
    */
  def packSequences(docs: DataFrame, maxTokens: Int, nShards: Int = 16,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(maxTokens > 0 && nShards > 0)
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(trim(col(textCol)) =!= "")
      .select(col(idCol).cast("long"),
        token_count(col(textCol)).cast("int"),
        pmod(col(idCol).cast("long"), lit(nShards.toLong)).cast("int"))
      .as[(Long, Int, Int)]
      .groupByKey(_._3)
      .flatMapGroups { (shard, it) =>
        val sorted = it.toArray.sortBy(_._1)
        var bin = -1L
        var rem = 0
        sorted.iterator.map { case (id, n, _) =>
          if (bin < 0 || n > rem) { bin += 1; rem = math.max(0, maxTokens - n) }
          else rem -= n
          (shard, bin, id, n)
        }
      }
      .toDF("shard", "bin", "doc_id", "n_tokens")
  }

  /** Bigram-LM quality score (CCNet-style perplexity filtering): train
    * add-k-smoothed bigram counts on `train`, score each doc by its mean
    * bigram log-probability. P(w₂|w₁) = (c(w₁w₂)+a) / (c(w₁·)+a·V) with
    * c(w₁·) = Σ_w c(w₁w) (context counts derived FROM the bigram
    * relation) and V = train's distinct-token vocabulary.
    *
    * Scale shape: the LM relations are bounded by the train corpus's
    * distinct-bigram count — Catalyst broadcasts them when under the
    * auto-broadcast threshold and shuffle-joins otherwise (no forced
    * broadcast: a large corpus's bigram table must not be pinned to the
    * driver). Scoring is one explode of each doc's bigrams joined
    * against them. Cross-engine determinism: each bigram's log-prob is
    * converted to integer MICRO-units (round-half-away via floor/ceil —
    * bit-deterministic primitives, unlike engine round() built-ins) and
    * summed exactly; the mean re-rounds the same way, so no decimal
    * division can land on a .5e-6 boundary where Spark's BigDecimal
    * HALF_UP and DuckDB's C++ round disagree.
    * Sub-2-token TRAIN docs contribute nothing (their whole-text
    * collapse shingle is not a bigram); sub-2-token SCORED docs collapse
    * to one whole-text shingle (the
    * [[graft.functions.TextFunctions.word_shingles]] convention), which
    * scores as an unseen bigram.
    */
  private def rhaCol(y: Column): Column = // round half away from zero
    when(y >= 0, floor(y + 0.5)).otherwise(ceil(y - 0.5))

  /** The per-(doc, bigram) integer micro-nat log-prob rows under the
    * add-k LM — the shared kernel of [[bigramLogProb]] (mean) and
    * [[minKProb]] (lowest-k% mean): (doc_id, lpm). */
  private[operators] def bigramLpm(docs: DataFrame, train: DataFrame,
                                   addK: Double, idCol: String,
                                   textCol: String): DataFrame =
    bigramLpmKeep(docs, train, addK, idCol, textCol, keep = Seq.empty)

  /** [[bigramLpm]] with extra passthrough columns from the scored
    * side (e.g. the domain) — the scored side may be STREAMING: every
    * join here is stream-static/broadcast and stateless. */
  private[operators] def bigramLpmKeep(docs: DataFrame, train: DataFrame,
                                       addK: Double, idCol: String,
                                       textCol: String,
                                       keep: Seq[String]): DataFrame = {
    val trainable = train
      .where(size(split(trim(col(textCol)), "\\s+")) >= 2)
    val bg = trainable.select(explode(word_shingles(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).cast("double").as("c12"))
    val ctx = bg.select(substring_index(col("bg"), " ", 1).as("w1"), col("c12"))
      .groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = train
      .select(explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    docs.select(col(idCol).as("doc_id") +: keep.map(c => col(s"`$c`")) :+
        explode(word_shingles(col(textCol), 2)).as("bg"): _*)
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(bg, Seq("bg"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id") +: keep.map(c => col(s"`$c`")) :+ rhaCol(log(
        (coalesce(col("c12"), lit(0.0)) + addK) /
          (coalesce(col("c1"), lit(0.0)) + lit(addK) * col("v"))) * 1e6)
        .cast("long").as("lpm"): _*)
  }

  def bigramLogProb(docs: DataFrame, train: DataFrame, addK: Double = 1.0,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bigramLpm(docs, train, addK, idCol, textCol)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        (rhaCol(col("s6").cast("double") / col("n_bigrams").cast("double"))
          .cast("double") / 1e6).as("avg_logprob_r"))

  /** Min-K% probability screen (Shi et al. 2023, "Detecting Pretraining
    * Data from Large Language Models"; public) — the membership-
    * inference / contamination detector: a document the model has
    * MEMORIZED has anomalously high probability even on its LEAST
    * likely tokens, so score each doc by the mean log-prob of its
    * lowest-k% scoring bigrams under the [[bigramLogProb]] LM instead
    * of the overall mean (which prose length and topic wash out).
    * Deterministic selection: rank bigram rows per doc by (lpm asc) —
    * equal-lpm ties split arbitrarily but contribute identical values,
    * so the SELECTED SUM is rank-split-invariant; k = max(1,
    * ⌊n·kPct/100⌋) exactly; the mean re-rounds half-away (the
    * bigramLogProb seam).
    *
    * Scale shape: the rank window partitions per doc — no global sort;
    * LM relations as in [[bigramLogProb]]. Output: (doc_id, n_bigrams,
    * k_used, min_k_avg_r). */
  def minKProb(docs: DataFrame, train: DataFrame, kPct: Int = 20,
               addK: Double = 1.0, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(kPct >= 1 && kPct <= 100, "kPct in [1, 100]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("lpm").asc)
    val wn = Window.partitionBy(col("doc_id"))
    bigramLpm(docs, train, addK, idCol, textCol)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("kk", greatest(lit(1L), expr(s"n * $kPct div 100")))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_bigrams"), max(col("kk")).as("k_used"),
        sum(when(col("rn") <= col("kk"), col("lpm"))).as("s6"))
      .select(col("doc_id"), col("n_bigrams"), col("k_used"),
        (rhaCol(col("s6").cast("double") / col("k_used").cast("double"))
          .cast("double") / 1e6).as("min_k_avg_r"))
  }

  /** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    * Chen & Goodman 1998; public — the smoothing KenLM ships and CCNet
    * actually filters with, upgrading [[bigramLogProb]]'s add-k):
    *   P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *              + D·N₁₊(w₁,·)/c(w₁·) · N₁₊(·,w₂)/T
    * with fixed discount D = 0.75, N₁₊ the distinct-continuation /
    * distinct-history counts, and T the distinct-bigram-type count; an
    * unseen history backs off to the continuation probability
    * N₁₊(·,w₂)/T alone. A bigram with ZERO interpolated mass (unseen
    * continuation under an unseen history) raises loudly — KN assigns
    * it no probability, and scoring it silently would corrupt the mean
    * (the Ann.scala overflow-guard discipline).
    *
    * Determinism contract: all counts are exact integers cast to
    * DOUBLE; the probability is evaluated with an IDENTICAL
    * left-to-right expression on both engines (engines never
    * re-associate FP), ln micro-quantizes half-away to integer 1e-6
    * nats, sums are exact BIGINT, the mean re-rounds the same way —
    * the [[bigramLogProb]] seam, formula upgraded.
    *
    * Scale shape: identical to [[bigramLogProb]] — the LM relations
    * (bigrams + two N₁₊ aggregates) are bounded by the train corpus's
    * distinct-bigram count and join under Catalyst's broadcast
    * decision; scoring explodes each doc's bigrams once. */
  def knBigramLogProb(docs: DataFrame, train: DataFrame,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    def rha(y: Column): Column =
      when(y >= 0, floor(y + 0.5)).otherwise(ceil(y - 0.5))
    val bg = train
      .where(size(split(trim(col(textCol)), "\\s+")) >= 2)
      .select(explode(word_shingles(col(textCol), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).cast("double").as("c12"))
    // one pass over the bigram-type relation yields both history
    // aggregates: total mass c1 and distinct continuations n1p
    val ctx = bg.select(substring_index(col("bg"), " ", 1).as("w1"), col("c12"))
      .groupBy("w1").agg(sum(col("c12")).as("c1"),
        count(lit(1)).cast("double").as("n1p"))
    val cont = bg.select(substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w2").agg(count(lit(1)).cast("double").as("n1pc"))
    val types = bg.agg(count(lit(1)).cast("double").as("t"))
    val p = when(col("c1").isNotNull,
        greatest(col("c12d") - lit(0.75), lit(0.0)) / col("c1") +
          lit(0.75) * col("n1p") / col("c1") * col("n1pcd") / col("t"))
      .otherwise(col("n1pcd") / col("t"))
    docs.select(col(idCol).as("doc_id"),
        explode(word_shingles(col(textCol), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(bg, Seq("bg"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(types))
      .withColumn("c12d", coalesce(col("c12"), lit(0.0)))
      .withColumn("n1pcd", coalesce(col("n1pc"), lit(0.0)))
      .withColumn("p", p)
      .withColumn("lpm", when(col("p") <= 0, expr(
          "raise_error('knBigramLogProb: bigram with zero KN mass — " +
            "train corpus does not cover a scored continuation')")
          .cast("double"))
        .otherwise(rha(log(col("p")) * 1e6)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpm")).as("s6"))
      .select(col("doc_id"), col("n_bigrams"),
        (rha(col("s6").cast("double") / col("n_bigrams").cast("double"))
          .cast("double") / 1e6).as("kn_avg_logprob_r"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 — the
    * head/middle/tail split CCNet publishes per language): score every
    * document with the [[bigramLogProb]] LM, then cut each language into
    * thirds by score — head = highest mean log-prob = lowest perplexity.
    * Tertiles are EXACT positional ranks over (score DESC, doc_id) —
    * deterministic under ties — and the boundaries are the integer
    * comparisons 3·rank ≤ n and 3·rank ≤ 2n, so an independent engine
    * reproduces the buckets bit-for-bit.
    *
    * Scale: the rank window partitions by language, so each language
    * sorts independently (the per-group order-statistics shape). At 10⁹+
    * docs per language, swap the rank for the mergeable
    * [[graft.profile.QuantileSketch]] tertile cuts — the documented
    * `e_time_to_convert` positional-vs-histogram tradeoff; the exact
    * path is the oracle-able contract.
    *
    * Output: one row per scored doc — (doc_id, lang, n_bigrams,
    * avg_logprob_r, bucket).
    */
  def perplexityBuckets(docs: DataFrame, train: DataFrame,
                        addK: Double = 1.0, idCol: String = "doc_id",
                        textCol: String = "text",
                        langCol: String = "lang"): DataFrame = {
    val scores = bigramLogProb(docs, train, addK, idCol, textCol)
    val withLang = scores.join(
      docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")), "doc_id")
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logprob_r").desc, col("doc_id"))
    withLang
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("nl", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("bucket",
        when(col("rn") * 3 <= col("nl"), lit("head"))
          .when(col("rn") * 3 <= col("nl") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("avg_logprob_r"), col("bucket"))
  }

  /** The 10⁹-docs-per-language variant of [[perplexityBuckets]] the
    * exact path's scaladoc promises: tertile CUTS come from the
    * mergeable [[graft.profile.QuantileSketch]] (bounded state, no
    * per-language global sort — the rank window is replaced by one
    * bounded-sketch walk), and each doc buckets by integer comparison
    * of its own HDR bucket against the two broadcast cut buckets.
    * Approximate at bucket resolution — realized bucket populations are
    * the visible accuracy report, the
    * [[graft.profile.QuantileSketch.equiDepthBins]] discipline.
    * Resolution detail that MATTERS for LM scores: a relative-error
    * sketch resolves near ZERO, but a corpus's mean log-probs cluster
    * tightly around a large magnitude (here ≈ −3.4 ± 0.05 — the whole
    * spread fits in one or two octave buckets and every cut collapses).
    * So the distribution's support is shifted to zero first — each
    * language's exact min score (itself a mergeable aggregate) is
    * subtracted before sketching, and buckets discriminate on the
    * SPREAD. Both engines compute the same doubles, so every
    * assignment still replays exactly.
    * Output: (doc_id, lang, avg_logprob_r, bucket).
    */
  def perplexityBucketsSketch(docs: DataFrame, train: DataFrame,
                              addK: Double = 1.0, idCol: String = "doc_id",
                              textCol: String = "text",
                              langCol: String = "lang"): DataFrame = {
    import graft.profile.QuantileSketch
    // three consumers (per-lang min, the sketch pass, the final bucket
    // join) would each replay the bigram-LM scoring cascade — checkpoint
    // the scored relation once (guide §5; lazy, materializes on first use)
    val scores0 = bigramLogProb(docs, train, addK, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
        "doc_id")
      .localCheckpoint(eager = false)
    val mins = scores0.groupBy("lang")
      .agg(min(col("avg_logprob_r")).as("__vmin"))
    val scores = scores0.join(broadcast(mins), "lang")
      .withColumn("__off", col("avg_logprob_r") - col("__vmin"))
    val long = scores.select(col("lang").as("table_name"),
      lit(0L).as("col_idx"), col("__off").as("value_num"))
    val cuts = QuantileSketch
      .rankCutBuckets(QuantileSketch.sketchLong(long), Seq(1, 2), 3)
      .groupBy(col("table_name").as("lang"))
      .agg(sort_array(collect_list(col("bucket"))).as("__cuts"))
    QuantileSketch.withBucket(scores, col("__off"), "__b")
      .join(broadcast(cuts), "lang")
      // above both cuts = top third by score = lowest perplexity = head
      .withColumn("__above", expr(
        "aggregate(__cuts, 0L, (acc, c) -> acc + IF(__b > c, 1L, 0L))"))
      .withColumn("bucket",
        when(col("__above") === 2, lit("head"))
          .when(col("__above") === 1, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("avg_logprob_r"), col("bucket"))
  }

  /** A corpus's whitespace tokens `t`, one row each, and its bigrams `g`
    * ([[bigramLogProb]]'s convention: docs with ≥2 tokens only, no
    * collapse shingle). */
  private def tokensAndBigrams(docs: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val words = split(trim(col(s"`$textCol`")), "\\s+")
    (docs.select(explode(words).as("t")).filter(col("t") =!= ""),
      docs.where(size(words) >= 2)
        .select(explode(word_shingles(col(s"`$textCol`"), 2)).as("g")))
  }

  /** Corpus n-gram entropy rate — the predictability screen beside
    * [[zipfFit]]: unigram entropy H(W), bigram entropy H(W₁W₂), and the
    * conditional entropy rate H(W₂|W₁) = H(W₁W₂) − H(W₁-marginal)
    * (chain rule). Low conditional entropy at normal unigram entropy
    * marks templated/boilerplate text (the next word is predictable);
    * organic prose keeps several nats. Same integer micro-nat term
    * discipline as [[graft.profile.InfoTheory.columnEntropy]] (6-dp ln,
    * floor to micro, exact sums — engine-replayable); bigrams use the
    * [[bigramLogProb]] convention (docs with ≥2 tokens only, no
    * collapse shingle). Three bounded-vocabulary aggregations.
    * Output: one row — (n_tokens, n_distinct_tokens, h_unigram,
    * n_bigrams, n_distinct_bigrams, h_bigram, h_conditional).
    */
  def ngramEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    def entropyOf(counts: DataFrame): DataFrame = {
      val withN = counts.crossJoin(
        broadcast(counts.agg(sum(col("__c")).as("__n"))))
      val lnr = round(log(col("__n").cast("double") / col("__c").cast("double")), 6)
      withN.select(col("__c"), col("__n"),
          floor(col("__c").cast("double") * lnr * lit(1e6)).cast("long").as("__tm"))
        .agg(first(col("__n")).as("n"), count(lit(1)).as("nd"),
          sum(col("__tm")).as("s"))
        .select(col("n"), col("nd"),
          round(col("s").cast("double") / col("n") / 1e6, 6).as("h"))
    }
    val (toks, big) = tokensAndBigrams(docs, textCol)
    val uni = entropyOf(toks.groupBy("t").agg(count(lit(1)).as("__c")))
    val bi = entropyOf(big.groupBy("g").agg(count(lit(1)).as("__c")))
    val ctx = entropyOf(big.select(substring_index(col("g"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("__c")))
    uni.select(col("n").as("n_tokens"), col("nd").as("n_distinct_tokens"),
        col("h").as("h_unigram"))
      .crossJoin(bi.select(col("n").as("n_bigrams"),
        col("nd").as("n_distinct_bigrams"), col("h").as("h_bigram")))
      .crossJoin(ctx.select(col("h").as("__hctx")))
      .withColumn("h_conditional", round(col("h_bigram") - col("__hctx"), 6))
      .drop("__hctx")
  }

  /** Bigram PMI collocation mining (Church & Hanks 1990, "Word
    * Association Norms, Mutual Information, and Lexicography" — public)
    * — the classic phrase-mining signal for tokenizer vocab seeding and
    * corpus diagnostics: pmi(w1,w2) = ln(p(w1 w2) / (p(w1)·p(w2))) with
    * p(w1 w2) over the bigram total and p(w) over the unigram total.
    * Computed as ONE fixed-shape double expression — (c12·Nu·Nu) /
    * ((c1·c2)·Nb) left-associated then ln, rounded to 6 dp — so both
    * engines round identically. Bigrams below `minCount` support are
    * dropped BEFORE ranking (rare-pair PMI is noise); rank is total
    * (pmi desc, w1, w2).
    *
    * Scale: two token-relation aggregates (vocab-bounded results) and
    * a bigram-vocab join; the ranking window's input is the
    * support-filtered bigram vocabulary, never the corpus. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5, topK: Int = 100,
                      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (toks, grams) = tokensAndBigrams(docs, textCol)
    val big = grams.select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
    val uni = toks.groupBy("t").agg(count(lit(1)).as("c"))
    val nu = toks.agg(count(lit(1)).as("nu"))
    val nb = big.agg(count(lit(1)).as("nb"))
    val scored = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
      .join(broadcast(uni.select(col("t").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("t").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .withColumn("pmi", round(log(
        col("c12").cast("double") * col("nu").cast("double") * col("nu").cast("double")
          / (col("c1").cast("double") * col("c2").cast("double") * col("nb").cast("double"))), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1"), col("w2"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("w1"), col("w2"), col("c12"),
        col("c1"), col("c2"), col("pmi"))
  }

  /** Flesch–Kincaid readability (Kincaid et al. 1975; Flesch 1948 —
    * public formulas): per-doc word / sentence / syllable counts and
    * the two classic scores. Sentences = runs of [.!?], floored at 1;
    * syllables = vowel-group count per word ([aeiouy]+), floored at 1
    * per word (non-Latin scripts read one syllable per token — a
    * documented heuristic floor, deterministic). Counts are exact
    * integers; each score is ONE fixed-shape double expression
    * rounded to 6 dp, mirrored verbatim by the oracle.
    *
    * Scale: a narrow projection — no shuffle, no UDF; every count is
    * a codegen'd regexp/array expression. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val t = col(s"`$textCol`")
    val words = docs
      .select(col(s"`$idCol`").as("doc_id"),
        filter(split(lower(t), "\\s+"), w => w =!= "").as("__w"),
        greatest(lit(1L), regexp_count(t, lit("[.!?]+")).cast("long"))
          .as("sentences"))
      .withColumn("words", size(col("__w")).cast("long"))
      .withColumn("syllables", aggregate(col("__w"), lit(0L), (acc, w) =>
        acc + greatest(lit(1L), regexp_count(w, lit("[aeiouy]+")).cast("long"))))
      .withColumn("__wd", greatest(lit(1L), col("words")).cast("double"))
    words
      .withColumn("fk_grade", round(
        lit(0.39) * (col("__wd") / col("sentences").cast("double"))
          + lit(11.8) * (col("syllables").cast("double") / col("__wd"))
          - lit(15.59), 6))
      .withColumn("flesch", round(
        lit(206.835)
          - lit(1.015) * (col("__wd") / col("sentences").cast("double"))
          - lit(84.6) * (col("syllables").cast("double") / col("__wd")), 6))
      .select(col("doc_id"), col("words"), col("sentences"),
        col("syllables"), col("fk_grade"), col("flesch"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004, "TextRank:
    * Bringing Order into Text" — public): PageRank over the word
    * co-occurrence graph (bigram adjacency, symmetrized), reusing the
    * exact-integer [[Graph.pagerankInt]] so the ranking is
    * bit-deterministic and oracle-replayable. Word node ids are
    * md5_low32(tok) (a 1-in-4e9-per-pair collision merges two words'
    * rank mass — deterministic, and negligible at any vocabulary);
    * ranks join back to the word via min(tok) per id.
    *
    * Scale: the graph is vocabulary²-bounded (bigram DISTINCT), never
    * corpus-sized; PageRank costs per [[Graph.pagerankInt]]. */
  def textrankKeywords(docs: DataFrame, topK: Int = 20, nIter: Int = 3,
                       textCol: String = "text"): DataFrame = {
    // balance before the bigram explode (guide §2.5): the explode +
    // two md5s per bigram is compute-dense, and a small-on-disk corpus
    // otherwise runs both graph-construction passes on the scan's 1-2
    // splits (measured at sf0.1: 2.9 s + 1.8 s two-task stages)
    val bg = graft.sources.Lake.balance(docs)
      .where(size(split(trim(col(s"`$textCol`")), "\\s+")) >= 2)
      .select(explode(word_shingles(col(s"`$textCol`"), 2)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val ids = bg.select(md5_low32(col("w1")).as("src"),
      md5_low32(col("w2")).as("dst"))
    val und = ids.union(ids.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val words = bg.select(col("w1").as("tok"))
      .union(bg.select(col("w2").as("tok"))).distinct()
      .groupBy(md5_low32(col("tok")).as("node")).agg(min(col("tok")).as("tok"))
    Graph.pagerankInt(und, nIter).join(words, "node")
      .withColumn("rank_pos", row_number().over(
        Window.orderBy(col("rank_ppm").desc, col("tok"))).cast("long"))
      .filter(col("rank_pos") <= topK)
      .select(col("rank_pos"), col("tok"), col("rank_ppm"))
  }

  /** Rule thresholds for [[c4Filter]] — the C4 cleaning heuristics
    * (Raffel et al. 2020, "Exploring the Limits of Transfer Learning",
    * §2.2 — public paper, see PAPERS.md): keep only lines that end in
    * terminal punctuation AND have at least `minWordsPerLine` words AND
    * don't mention "javascript"; drop whole pages with fewer than
    * `minKeptLines` surviving lines, a "lorem ipsum" marker, a curly
    * brace (code), or any word from the policy `badWords` list.
    * Complements the Gopher-window [[qualityFilter]]: C4 is line-level
    * structural hygiene, Gopher is doc-level statistical hygiene.
    */
  final case class C4Rules(
      minWordsPerLine: Int = 5, minKeptLines: Int = 3,
      badWords: Seq[String] = Seq.empty)

  /** Per-page C4 report: line counts before/after the line rules, the
    * three page-level flags, the keep verdict, and the cleaned text
    * (kept lines re-joined) — appended to the input's own columns, so
    * the operator composes downstream (and runs unchanged inside a
    * Structured Streaming micro-batch: it is a pure projection).
    * Everything is higher-order array functions over the line split —
    * codegen'd, shuffle-FREE: the 100 TB shape is scan → project,
    * identical to [[qualityFilter]]. Lambdas reference only their
    * element (the outer-Column-recompute trap from SURVEY §6 does not
    * apply).
    */
  def c4Filter(docs: DataFrame, rules: C4Rules = C4Rules(),
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def words(ln: Column): Column =
      filter(split(trim(ln), "\\s+"), w => w =!= "")
    def keptLine(ln: Column): Column =
      trim(ln).rlike("[.!?\"]$") &&
        size(words(ln)) >= rules.minWordsPerLine &&
        !lower(ln).contains("javascript")
    val badArr = typedLit(rules.badWords.map(_.toLowerCase))
    docs
      // \r?\n: CRLF corpora must not leave a trailing \r on each line —
      // Java rlike '$' matches BEFORE a line terminator while RE2
      // engines (the oracle) match end-of-text only, so a stray \r
      // would silently split the engines on the terminal-punct rule
      .withColumn("__lines", split(col(s"`$textCol`"), "\r?\n"))
      .withColumn("__kept", filter(col("__lines"), keptLine _))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("n_kept_lines", size(col("__kept")).cast("long"))
      .withColumn("kept_tokens", aggregate(col("__kept"), lit(0L),
        (acc, ln) => acc + size(words(ln))))
      .withColumn("has_lorem",
        lower(col(s"`$textCol`")).contains("lorem ipsum"))
      .withColumn("has_brace", col(s"`$textCol`").contains("{"))
      .withColumn("has_badword",
        if (rules.badWords.isEmpty) lit(false)
        else arrays_overlap(
          filter(split(lower(trim(col(s"`$textCol`"))), "\\s+"), w => w =!= ""),
          badArr))
      .withColumn("clean_text", array_join(col("__kept"), "\n"))
      .withColumn("keep",
        col("n_kept_lines") >= rules.minKeptLines &&
          !col("has_lorem") && !col("has_brace") && !col("has_badword"))
      .drop("__lines", "__kept")
  }
}
