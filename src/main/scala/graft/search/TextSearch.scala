package graft.search

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructField, StructType}

/** Relational BM25 keyword search over a document corpus — the text-search
  * modality next to sketch search (`Discovery`) and embedding search
  * (`operators.Ann`). Everything is DataFrame algebra shaped for corpus
  * scale:
  *
  *  - document length comes from a per-row `size(split(...))` projection
  *    (no shuffle, no explode of the full corpus);
  *  - only tokens matching the (tiny, broadcast) query-term list are
  *    exploded and aggregated, so the one shuffle carries
  *    |matching tokens| rows, never the whole token stream;
  *  - corpus-level constants (N, avgdl) ride a broadcast 1-row aggregate;
  *  - per-term contributions are rounded to 6 dp and summed as exact
  *    DECIMAL(18,6), making the doc score independent of Spark's
  *    aggregation order — a DuckDB oracle replays scores bit-for-bit.
  *
  * Scoring is classic Okapi BM25 (Robertson–Spärck Jones idf in the
  * "+1" form, so idf > 0 even for terms in most docs):
  * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1),
  * s(d,q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
  */
object TextSearch {

  private def toks(textCol: Column): Column =
    filter(split(lower(textCol), "\\s+"), t => t =!= "")

  /** Per-document TF-IDF top terms — the classic featurization next to
    * [[bm25TopK]]: smooth idf `ln((N+1)/(df+1)) + 1` (positive for every
    * term), score `tf · idf`. Output: (doc_id, term, tf, score_r, rank)
    * with `topK` terms per doc, ties broken on ascending term.
    *
    * Scale shape: one token explode → (doc, term) counts; document
    * frequencies are a second aggregate over the DISTINCT (doc, term)
    * relation the first one already produced; corpus size joins as a
    * broadcast 1-row aggregate; the per-doc window ranks only each doc's
    * own terms. The transcendental is rounded to 6 dp before the
    * multiply, the [[bm25TopK]] determinism discipline.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
    val consts = base.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = base.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val df_ = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df")) // tf rows are distinct (doc,term)
    val scored = tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(consts))
      .withColumn("idf",
        round(log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0, 6))
      .withColumn("score_r", round(col("tf") * col("idf"), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_r").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("doc_id", "term", "tf", "score_r", "rank")
  }

  /** Shared TF-IDF prep for the cosine self-joins: (id, term, wq, df)
    * with wq = tf · round(idf·1e6) integer micro-units. */
  private def tfidfMicro(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(s"`$idCol`").as("id"), toks(col(s"`$textCol`")).as("w"))
    val consts = base.agg(count(lit(1)).cast("double").as("n_docs"))
    val tf = base.select(col("id"), explode(col("w")).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df_), Seq("term")).crossJoin(broadcast(consts))
      .withColumn("wq", (col("tf") *
          round((log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0) * 1e6, 0))
        .cast("long"))
      .select("id", "term", "wq", "df")
  }

  /** Posting-list (All-Pairs/L2AP) variant of [[cosineSelfJoin]] — the
    * right plan for HIGH-vocabulary Zipf corpora, where the two-sided
    * ℓ2 prefix filter (Bayardo et al., WWW'07; Anastasiu & Karypis,
    * ICDE'14) keeps hot terms out of the candidate shuffle. On a
    * LOW-vocabulary corpus (every term in most docs) nothing can prune
    * term-sharing and this degenerates to all-pairs with join overhead —
    * use the default blocked kernel there.
    *
    * Prefix bound (two-sided, so candidates are prefix × prefix — never
    * prefix × full postings): fix ONE global term order, ascending
    * document frequency with term-asc ties, so the earliest terms are the
    * rare ones with the SHORTEST posting lists. For doc d let cum(t) be
    * the energy (Σ wq²) of d's terms strictly before t in that order;
    * t is in d's prefix iff the inclusive suffix energy ‖d_{≥t}‖² =
    * ‖d‖² − cum(t) ≥ τ'²·‖d‖². If a pair (a,b) shares no term that is in
    * BOTH prefixes, take t* = the first shared term in the global order:
    * every shared term is ≥ t*, so by Cauchy–Schwarz
    * cos(a,b) ≤ (‖a_{≥t*}‖/‖a‖)·(‖b_{≥t*}‖/‖b‖), and t* outside either
    * prefix makes that factor < τ' — the pair cannot reach the threshold.
    * τ' = τ − 1e-6 so the candidate set also covers the inclusive
    * round(cosine,6) ≥ τ final filter (a true cosine down to τ − 5e-7
    * still rounds in). Dots and norms are exact integer sums in
    * DECIMAL(38,0); the only float ops are the closing sqrt/divide,
    * rounded to 6 dp.
    */
  def cosineSelfJoinPostings(docs: DataFrame, threshold: Double,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame =
    // All-Pairs is a multi-pass algorithm over ONE weighted posting
    // relation (norms, prefix, both sides of the candidate self-join, and
    // the verify join all read it): materialize it once, or the
    // scan→explode→tf→df subtree replays ~6× inside a single query
    postingsFromWtd(tfidfMicro(docs, idCol, textCol).localCheckpoint(eager = true),
      threshold, prefixPre = None)

  private val dec = DecimalType(38, 0)
  private def energyCol: Column = (col("wq").cast(dec) * col("wq").cast(dec)).cast(dec)

  /** The ℓ2 prefix relation (id, term) of a materialized posting relation —
    * shared by the postings plan and [[cosineSimilarityJoin]]'s router
    * (which profiles it BEFORE committing to the postings plan, then hands
    * it over so the chosen plan never recomputes the window).
    */
  private def prefixOf(wtd: DataFrame, threshold: Double): DataFrame = {
    val norms = wtd.groupBy("id").agg(sum(energyCol).as("n2"))
    // τ'² in pico-units keeps the prefix comparison pure integer; τ' is
    // nudged below τ so pairs kept by the INCLUSIVE rounded final filter
    // (true cosine ≥ τ − 5e-7) are always generated as candidates
    val tauP = math.max(threshold - 1e-6, 0.0)
    val tauSqPico = math.round(tauP * tauP * 1e12)
    // global term order: ascending df (rare first), term-asc ties — the
    // same order for every doc, which the two-sided bound requires
    val wPre = Window.partitionBy(col("id")).orderBy(col("df").asc, col("term").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // materialized: the candidate join reads BOTH sides of it
    wtd
      .withColumn("cum", coalesce(sum(energyCol).over(wPre), lit(0).cast(dec)))
      .join(norms, "id")
      .filter(col("cum") * lit(1000000000000L) <=
        col("n2") * lit(1000000000000L - tauSqPico))
      .select(col("id"), col("term"))
      .localCheckpoint(eager = true)
  }

  private def postingsFromWtd(wtd: DataFrame, threshold: Double,
                              prefixPre: Option[DataFrame]): DataFrame = {
    val norms = wtd.groupBy("id").agg(sum(energyCol).as("n2"))
    val prefix = prefixPre.getOrElse(prefixOf(wtd, threshold))
    // Width pins (guide §2.5): the candidate self-join and the verify
    // joins are the compute-dense stages (candidate × posting-row
    // intermediates), but their shuffle INPUTS are a few MB, so AQE
    // byte-coalescing ran them on ONE task (two measured ~2.8 s
    // single-task stages at sf0.1). User-pinned repartitions on exactly
    // the keys the joins require add no exchange and keep the stages at
    // the session's shuffle parallelism.
    val shufP = wtd.sparkSession.sessionState.conf.numShufflePartitions
    val prefixW = prefix.repartition(shufP, col("term"))
    val cands = prefixW
      .join(prefixW.select(col("id").as("id_b"), col("term")), "term")
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
      .repartition(shufP, col("id_a"))
    val dots = cands
      .join(wtd.select(col("id").as("id_a"), col("term"), col("wq").as("wa")), "id_a")
      .repartition(shufP, col("id_b"), col("term"))
      .join(wtd.select(col("id").as("id_b"), col("term"), col("wq").as("wb")),
        Seq("id_b", "term"))
      .groupBy("id_a", "id_b")
      .agg(sum((col("wa").cast(dec) * col("wb").cast(dec)).cast(dec)).as("dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("n2").as("n2a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("n2b")), "id_b")
      .withColumn("cosine", round(col("dot").cast("double") /
        sqrt(col("n2a").cast("double") * col("n2b").cast("double")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** EXACT all-pairs cosine similarity self-join over TF-IDF vectors at
    * threshold τ — the blocked-matrix kernel, correct on ANY corpus and
    * the default. (The posting-join variant [[cosineSelfJoinPostings]]
    * wins on high-vocabulary Zipf corpora where prefixes prune; on a
    * low-vocabulary corpus — the hard case — every doc pair shares hot
    * terms, candidate generation cannot prune, and a posting join
    * materializes Σ_t df(t)² intermediate rows. This kernel never
    * materializes pair rows in a shuffle at all.)
    *
    * Plan shape (the standard distributed exact all-pairs blocking):
    * docs aggregate to per-doc sparse vectors (term, wq) with
    * wq = tf · round(idf·1e6) integer micro-units as in
    * [[tfidfTopTerms]]; vectors hash-assign to `numBlocks` blocks, ONE
    * row per block; the B(B+1)/2 upper-triangle block pairs come from a
    * tiny local relation equi-joined to the block rows (so each block
    * row is shuffled, not broadcast — corpus×B bytes total, never
    * |pairs| rows); each block-pair task merge-joins its sorted sparse
    * vectors and emits only pairs with round(cosine, 6) ≥ τ. Dots and
    * norms are exact integer sums (overflow-checked, BigInt fallback),
    * so the only float ops are the closing sqrt/divide/round — the same
    * arithmetic the relational variant and the DuckDB full-quadratic
    * oracle perform, making all three hash-identical.
    *
    * At 100× docs the block count scales linearly (the default
    * `numBlocks = 0` auto-sizes from the materialized posting relation):
    * tasks grow quadratically (inherent to EXACT all-pairs output
    * guarantees) but each task stays constant-size and the shuffle stays
    * linear×B. For sub-quadratic near-dup at scale use
    * `Dedup.minhashNearDups` / `semDedup` — this operator is the exact
    * verifier of that family.
    */
  def cosineSelfJoin(docs: DataFrame, threshold: Double,
                     idCol: String = "doc_id",
                     textCol: String = "text",
                     numBlocks: Int = 0): DataFrame = {
    // materialize the postings once: block sizing reads a cheap count off
    // the checkpoint instead of re-scanning the upstream plan (which may
    // be an expensive subquery) a second time
    val wtd = tfidfMicro(docs, idCol, textCol).localCheckpoint(eager = true)
    blockedFromWtd(wtd, threshold, docs.schema(idCol).dataType, numBlocks)
  }

  /** Auto block count: both bounds must hold, so B is the max of
    *  - `postings / 250k`  — bounds a BLOCK ROW at ~250k (term, wq) entries
    *    (≈ 8 MB at typical term lengths), however long individual docs
    *    are — a long-document corpus gets more, smaller blocks instead of
    *    a fixed-doc-count block row growing toward Spark's 2 GB row limit;
    *  - `docs / 2k`        — bounds a block-pair task's merge compute
    *    (~4M pair-merges) for short-document corpora.
    * Floor 16 keeps small corpora using every local core. No upper cap:
    * the pair relation is generated distributedly past the driver-side
    * threshold and its PARTITION count is capped independently below.
    */
  private[graft] def autoBlocks(nDocs: Long, nPostings: Long): Int =
    math.max(16L, math.max(
      math.ceil(nPostings / 250000.0).toLong,
      math.ceil(nDocs / 2000.0).toLong)).toInt

  /** One task handles ≥1 whole block pairs; past this many partitions the
    * scheduler overhead of one-task-per-pair outweighs the balance win. */
  private val MaxKernelPartitions = 8192

  private def blockedFromWtd(wtd: DataFrame, threshold: Double,
                             idType: org.apache.spark.sql.types.DataType,
                             numBlocks: Int): DataFrame = {
    val spark = wtd.sparkSession
    val nBlocks =
      if (numBlocks >= 1) numBlocks
      else {
        val prof = wtd.agg(count(lit(1)).as("p"),
          count_distinct(col("id")).as("n")).head()
        autoBlocks(prof.getLong(1), prof.getLong(0))
      }
    val docsVec = wtd
      .withColumn("bid", pmod(xxhash64(col("id")), lit(nBlocks.toLong)))
      .groupBy("bid", "id")
      .agg(collect_list(struct(col("term"), col("wq"))).as("tw"))
    val blocks = docsVec.groupBy("bid")
      .agg(collect_list(struct(col("id"), col("tw"))).as("docs"))
    // tiny (bx, by) upper-triangle pair relation: equi-joining the block
    // rows to it replicates each block ≤B times through a plain shuffle —
    // never a broadcast of the corpus, never a pair-row explosion. Small
    // B builds it driver-side; large B generates it distributedly (a
    // range×range nested-loop of LONGS — the driver never holds B²/2
    // tuples)
    val nPairs = nBlocks.toLong * (nBlocks + 1L) / 2L
    val pairRel =
      if (nBlocks <= 512) {
        import spark.implicits._
        (for { i <- 0 until nBlocks; j <- i until nBlocks }
          yield (i.toLong, j.toLong)).toDF("bx", "by")
      } else
        spark.range(nBlocks.toLong).toDF("bx")
          .crossJoin(spark.range(nBlocks.toLong).toDF("by"))
          .filter(col("bx") <= col("by"))
    // explicit numPartitions: block-pair rows are BYTE-small but
    // COMPUTE-heavy, so AQE's byte-based coalescing would serialize the
    // kernel onto a couple of tasks; one task per block pair is the unit
    // of parallelism up to MaxKernelPartitions, past which tasks take
    // several pairs each (hash-spread, so balance still holds in
    // expectation)
    val kernelParts = math.min(nPairs, MaxKernelPartitions.toLong).toInt
    val joined = pairRel
      .join(blocks.select(col("bid").as("bx"), col("docs").as("dx")), "bx")
      .join(blocks.select(col("bid").as("by"), col("docs").as("dy")), "by")
      .select("bx", "by", "dx", "dy")
      .repartition(kernelParts)
    val outSchema = StructType(Seq(
      StructField("id_a", idType), StructField("id_b", idType),
      StructField("cosine", DoubleType)))
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    val tau = threshold
    joined.flatMap { r =>
      val sameBlock = r.getLong(0) == r.getLong(1)
      val xs = CosineKernel.parseBlock(r.getSeq[Row](2))
      val ys = if (sameBlock) xs else CosineKernel.parseBlock(r.getSeq[Row](3))
      CosineKernel.blockPairs(xs, ys, sameBlock, tau)
    }(enc)
  }

  /** Pure routing rule behind [[cosineSimilarityJoin]], exposed for tests.
    * Stage 1 (`sumDf2` = Σ_t df(t)², the candidate join's worst-case
    * output volume with NO pruning): if even that is well under the
    * all-pairs merge count, postings win regardless of pruning — go
    * straight there. Stage 2 (only reached on hot-vocabulary corpora,
    * `prefixCands` = the EXACT candidate count Σ_t pdf(t)·(pdf(t)−1)/2 of
    * the already-computed prefix relation): natural Zipf corpora pass
    * because the ℓ2 prefix filter drops the hot terms; the degenerate
    * every-term-everywhere corpus fails and takes the blocked kernel.
    * 0.25 covers the per-candidate constant gap between shuffle-join
    * machinery and the kernel's tight merge loop.
    */
  private[graft] def routeToPostings(nDocs: Long, sumDf2: Double,
                                     prefixCands: => Double): Boolean = {
    val allPairs = nDocs.toDouble * (nDocs - 1L).toDouble / 2.0
    sumDf2 / 2.0 <= 0.25 * allPairs || prefixCands <= 0.25 * allPairs
  }

  /** Bounded per-JVM memo of the router's expensive intermediates, so a
    * caller probing SEVERAL thresholds over one corpus (the usual way a
    * τ is tuned) re-pays neither the materialized posting relation nor
    * the stage-2 prefix window:
    *  - `wtd` (tokenize + tf-idf + localCheckpoint) keyed by the
    *    CANONICALIZED analyzed plan of (docs, idCol, textCol) — plan
    *    identity, the same notion Spark's own exchange reuse keys on;
    *  - the prefix window + its exact candidate count keyed by
    *    (that plan, τ) — τ changes the window, the corpus doesn't.
    * Eviction is LRU at a small bound; evicted checkpoints are NOT
    * force-unpersisted (returned plans may still reference them — the
    * ContextCleaner reclaims them on GC like any dropped checkpoint).
    * Same session-lifetime staleness contract as Spark's `.cache()`:
    * the key is the plan, not the files underneath it. */
  private val RouterMemoMax = 8
  private def lru[K, V](): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[K, V]): Boolean = size > RouterMemoMax
    }
  private val wtdMemo = lru[Any, (DataFrame, Row)]()
  private val prefixMemo = lru[(Any, Double), (DataFrame, Double)]()
  // BM25 scored relation keyed by (session, corpus plan, normalized
  // terms, k1, b): rank-k and PRF-feedback retrievals over one corpus
  // share one scoring cascade (j3_rbo runs the IDENTICAL cascade as its
  // own arm and again inside bm25PrfTopK's feedback stage — only the
  // limit differs). Lazy checkpoint: a single-consumer query pays only
  // write-through, a second consumer reuses the materialized rows.
  private val bm25Memo = lru[Any, DataFrame]()
  // test-visible hit counter (RouterMemoSpec)
  private[search] var routerMemoHits = 0L
  // test-visible size probes (RouterMemoSpec eviction coverage)
  private[search] def routerMemoSizes: (Int, Int) =
    (wtdMemo.synchronized(wtdMemo.size), prefixMemo.synchronized(prefixMemo.size))

  /** Drop every memoized intermediate. Benchmarks call this between
    * timed queries so a plan-canonicalization change can never turn a
    * timing into a cache hit; the checkpointed RDDs the entries held are
    * reclaimed by the ContextCleaner once callers' references go. */
  def clearRouterMemo(): Unit = {
    wtdMemo.synchronized(wtdMemo.clear())
    prefixMemo.synchronized(prefixMemo.clear())
    bm25Memo.synchronized(bm25Memo.clear())
  }

  private def sessionStopped(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.isStopped

  private def wtdFor(docs: DataFrame, idCol: String,
                     textCol: String): (Any, DataFrame, Row) = {
    // The owning SESSION is part of the key (reference identity): a
    // plan-identical DataFrame in a NEW session (same literal
    // LocalRelation across test suites, a notebook restart) must not
    // resolve to a localCheckpoint bound to the dead SparkContext —
    // that fails at action time with a stopped-context error instead of
    // recomputing. Entries whose session has stopped are purged on the
    // next miss so the bounded memo isn't wasted on dead sessions.
    val key = (docs.sparkSession,
      docs.queryExecution.analyzed.canonicalized, idCol, textCol)
    wtdMemo.synchronized {
      val hit = wtdMemo.get(key)
      if (hit != null) { routerMemoHits += 1; return (key, hit._1, hit._2) }
      wtdMemo.values.removeIf(v => sessionStopped(v._1))
    }
    prefixMemo.synchronized {
      prefixMemo.values.removeIf(v => sessionStopped(v._1))
    }
    val wtd = tfidfMicro(docs, idCol, textCol).localCheckpoint(eager = true)
    // Σ_t df(t)² without a per-term aggregate: each term contributes df
    // posting rows each carrying df, so sum(df) over postings IS Σdf²
    val prof = wtd.agg(count(lit(1)).as("p"),
      count_distinct(col("id")).as("n"), sum(col("df")).as("sumdf2")).head()
    wtdMemo.synchronized { wtdMemo.put(key, (wtd, prof)) }
    (key, wtd, prof)
  }

  private def prefixFor(key: Any, wtd: DataFrame,
                        threshold: Double): (DataFrame, Double) = {
    val k = (key, threshold)
    prefixMemo.synchronized {
      val hit = prefixMemo.get(k)
      if (hit != null) { routerMemoHits += 1; return hit }
    }
    val mat = prefixOf(wtd, threshold)
    val cands = mat.groupBy("term").agg(count(lit(1)).as("pdf"))
      .agg(coalesce(sum(col("pdf") * (col("pdf") - 1) / 2), lit(0.0)))
      .head().getDouble(0)
    prefixMemo.synchronized { prefixMemo.put(k, (mat, cands)) }
    (mat, cands)
  }

  /** What the auto-router saw and decided, published per call via
    * [[routerReport]]. `candidateUpperBound` = Σdf²/2 — the posting
    * join's worst-case candidate volume with no pruning, already
    * computed by stage 1; when it (and, if evaluated, the exact pruned
    * `prefixCandidates`) sits near `allPairs`, BOTH exact arms are
    * OUTPUT-bound: a hot vocabulary makes the matching-pair volume
    * itself grow ∝ docs² (measured at 10× sf0.1 docs: blocked 3.1 →
    * 475 s, pair volume ~100×), so no exact plan can be sub-quadratic.
    * `quadraticOutputRisk` flags that regime so a large-corpus caller is
    * pointed to MinHash-LSH ([[graft.operators.Dedup.minhashNearDups]])
    * as the sub-quadratic scale path, with this exact join kept as the
    * in-bucket verifier. Routing itself is UNCHANGED by the report —
    * both exact arms stay exact. */
  final case class RouterReport(nDocs: Long, sumDf2: Double,
                                allPairs: Double, candidateUpperBound: Double,
                                prefixCandidates: Option[Double],
                                route: String, quadraticOutputRisk: Boolean) {
    def render: String = {
      val prefix = prefixCandidates.map(c => f"$c%.0f").getOrElse("not evaluated")
      val risk = if (quadraticOutputRisk)
        " QUADRATIC-OUTPUT REGIME: matching-pair volume grows ~docs^2 at this " +
          "vocabulary; for corpus-scale near-dup detection route through " +
          "MinHash-LSH (Dedup.minhashNearDups) and keep the exact join as " +
          "the in-bucket verifier."
      else ""
      f"cosine router: docs=$nDocs candidateUpperBound=$candidateUpperBound%.0f " +
        f"(allPairs=$allPairs%.0f, prefixCandidates=$prefix) -> $route.$risk"
    }
  }
  @volatile private var lastRouterReport: Option[RouterReport] = None
  /** The most recent [[cosineSimilarityJoin]] routing decision on this
    * JVM (None before the first call). */
  def routerReport: Option[RouterReport] = lastRouterReport

  /** Exact cosine self-join, AUTO-ROUTED between the two physical plans
    * ([[cosineSelfJoin]] blocked kernel vs [[cosineSelfJoinPostings]]
    * L2AP posting join) from a cheap per-corpus vocabulary profile —
    * callers no longer need to know which regime their corpus is in.
    *
    * The profile costs one aggregate over the (materialized-once)
    * posting relation, plus — only in the hot-vocabulary regime — the
    * prefix window the postings plan would run anyway; when the router
    * then picks postings, the prefix is handed over, not recomputed.
    * Both profiles are linear in corpus size; choosing the WRONG plan is
    * quadratic — see [[routeToPostings]] for the crossover rule. Results
    * are plan-independent by construction (both plans are exact and
    * round identically), so routing is invisible to callers.
    */
  def cosineSimilarityJoin(docs: DataFrame, threshold: Double,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val (key, wtd, prof) = wtdFor(docs, idCol, textCol)
    val nDocs = prof.getLong(1)
    val sumDf2 = if (prof.isNullAt(2)) 0.0 else prof.getDouble(2)
    // lazily computed: only the hot-vocabulary stage pays the window
    var prefixMat: DataFrame = null
    var prefixEvaluated: Option[Double] = None
    def prefixCands: Double = {
      val (mat, cands) = prefixFor(key, wtd, threshold)
      prefixMat = mat
      prefixEvaluated = Some(cands)
      cands
    }
    val toPostings = routeToPostings(nDocs, sumDf2, prefixCands)
    val allPairs = nDocs.toDouble * (nDocs - 1L).toDouble / 2.0
    val report = RouterReport(nDocs, sumDf2, allPairs,
      candidateUpperBound = sumDf2 / 2.0,
      prefixCandidates = prefixEvaluated,
      route = if (toPostings) "postings" else "blocked",
      // blocked is chosen exactly when BOTH volume stages exceeded the
      // crossover — the regime where output, not plan shape, is the cost
      quadraticOutputRisk = !toPostings)
    lastRouterReport = Some(report)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (report.quadraticOutputRisk) log.warn(report.render)
    else log.info(report.render)
    if (toPostings)
      postingsFromWtd(wtd, threshold, Option(prefixMat))
    else
      blockedFromWtd(wtd, threshold, docs.schema(idCol).dataType, numBlocks = 0)
  }

  /** Top-k documents for a bag-of-words query. Ties break on ascending id.
    * Output: (doc_id, score_r, rank).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    val scored = bm25Scored(docs, queryTerms, idCol, textCol, k1, b)
    // global top-k as TakeOrdered (distributed partial top-k per partition,
    // merged on the driver), NOT a global window over the whole corpus;
    // the rank window then orders only the k surviving rows
    val top = scored.orderBy(col("score_r").desc, col("doc_id")).limit(k)
    // window-free rank of the k survivors (TakeOrdered output is one
    // sorted partition; see Ranking.withPosition)
    graft.operators.Ranking.withPosition(top, "rank")
      .select("doc_id", "score_r", "rank")
  }

  /** The tokenized corpus (doc_id, w, dl) and its constants as one
    * broadcastable row (n_docs, avgdl). */
  private def bm25Corpus(docs: DataFrame, idCol: String,
                         textCol: String): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
      .withColumn("dl", size(col("w")).cast("double"))
    (base, base.agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl")))
  }

  /** Per-(doc, term) BM25 contributions `c` of a term-frequency relation
    * (doc_id, dl, term, tf, …), each rounded to 6 dp. */
  private def bm25Contrib(tf: DataFrame, consts: DataFrame,
                          k1: Double, b: Double): DataFrame = {
    val df_ = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(df_), Seq("term"))
      .crossJoin(broadcast(consts))
      // idf is the one transcendental in the score: round it to 6 dp so a
      // sub-ulp libm-vs-Math.log difference can never reach the oracle
      // compare through the later multiplications
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6))
      .withColumn("c",
        round(col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6))
  }

  /** The full-corpus BM25 scored relation (doc_id, score_r) behind
    * [[bm25TopK]], memoized per (session, corpus plan, normalized
    * terms, k1, b) — see [[bm25Memo]]. */
  private def bm25Scored(docs: DataFrame, queryTerms: Seq[String],
                         idCol: String, textCol: String,
                         k1: Double, b: Double): DataFrame = {
    val terms = queryTerms.distinct.map(_.toLowerCase)
    val key = (docs.sparkSession,
      docs.queryExecution.analyzed.canonicalized, terms, idCol, textCol, k1, b)
    bm25Memo.synchronized {
      val hit = bm25Memo.get(key)
      if (hit != null) { routerMemoHits += 1; return hit }
      bm25Memo.values.removeIf(v => sessionStopped(v))
    }
    val (base, consts) = bm25Corpus(docs, idCol, textCol)
    // explode ONLY query-term matches: the shuffle carries matching
    // tokens, not the corpus token stream
    val tf = base
      .select(col("doc_id"), col("dl"),
        explode(filter(col("w"), t => t.isInCollection(terms))).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val scored = bm25Contrib(tf, consts, k1, b).groupBy(col("doc_id"))
      .agg(sum(col("c").cast(DecimalType(18, 6))).cast("double").as("score_r"))
      .localCheckpoint(eager = false)
    bm25Memo.synchronized { bm25Memo.put(key, scored) }
    scored
  }

  /** Pseudo-relevance-feedback expansion terms (Rocchio 1971 /
    * RM-style PRF — public IR classics): take [[bm25TopK]]'s top
    * `kFb` documents as pseudo-relevant, weight every term they
    * contain by idf_micro · (total occurrences in the feedback set),
    * drop the original query terms, keep the top `nExp` by
    * (weight desc, term). Exact integers: idf rounds to 6 dp once
    * (the one transcendental, the [[bm25TopK]] discipline) then lives
    * in micro units, so the weight is an exact long product.
    *
    * Scale: the feedback token relation is kFb docs; corpus df is
    * computed only for the candidate terms via one distinct-gram
    * aggregate + broadcast semi-join.
    *
    * @return (term, fb_count, df, wgt_micro), top nExp. */
  def prfExpansionTerms(docs: DataFrame, queryTerms: Seq[String],
                        kFb: Int = 10, nExp: Int = 5,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(nExp >= 1 && kFb >= 1, "need kFb >= 1 and nExp >= 1")
    val qTerms = queryTerms.distinct.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
    val fbIds = bm25TopK(docs, queryTerms, kFb, idCol, textCol)
      .select("doc_id")
    val cnt = base.join(broadcast(fbIds), "doc_id")
      .select(explode(col("w")).as("term"))
      .filter(!col("term").isInCollection(qTerms))
      .groupBy("term").agg(count(lit(1)).as("fb_count"))
    val nDocs = base.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfAll = base.select(explode(array_distinct(col("w"))).as("term"))
      .join(broadcast(cnt.select("term")), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    cnt.join(dfAll, "term").crossJoin(broadcast(nDocs))
      .withColumn("idf_micro", floor(round(log(
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1), 6)
        * 1e6 + 0.5).cast("long"))
      .withColumn("wgt_micro", col("idf_micro") * col("fb_count"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("wgt_micro").desc, col("term"))))
      .filter(col("rank") <= nExp)
      .select(col("term"), col("fb_count"), col("df"), col("wgt_micro"))
  }

  /** BM25 + PRF rerank: score against the original terms at full
    * weight plus [[prfExpansionTerms]] at `lambdaPpm` (default half)
    * weight. Per-term contributions follow [[bm25TopK]] exactly, then
    * convert to micro longs BEFORE the weight multiply — (c_micro ·
    * wgt_ppm) div 10⁶ — so the mixed score is an exact integer sum
    * (round(c·0.5, 6) would land on .5e-6 boundaries, where engine
    * round() builtins disagree). Output: (rank, doc_id, score_r). */
  def bm25PrfTopK(docs: DataFrame, queryTerms: Seq[String],
                  kFb: Int = 10, nExp: Int = 5, lambdaPpm: Long = 500000L,
                  k: Int = 10, idCol: String = "doc_id",
                  textCol: String = "text", k1: Double = 1.2,
                  b: Double = 0.75): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val qTerms = queryTerms.distinct.map(_.toLowerCase)
    val termsW = qTerms.toDF("term").withColumn("wgt_ppm", lit(1000000L))
      .unionByName(prfExpansionTerms(docs, queryTerms, kFb, nExp,
          idCol, textCol)
        .select(col("term"), lit(lambdaPpm).as("wgt_ppm")))
    val (base, consts) = bm25Corpus(docs, idCol, textCol)
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .join(broadcast(termsW), "term")
      .groupBy(col("doc_id"), col("dl"), col("term"), col("wgt_ppm"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val contrib = bm25Contrib(tf, consts, k1, b)
      .withColumn("cw_micro",
        expr("(CAST(floor(c * 1e6 + 0.5) AS BIGINT) * wgt_ppm) div 1000000L"))
    val scored = contrib.groupBy(col("doc_id"))
      .agg((sum(col("cw_micro")).cast("double") / 1e6).as("score_r"))
    val top = scored.orderBy(col("score_r").desc, col("doc_id")).limit(k)
    graft.operators.Ranking.withPosition(top, "rank")
      .select("doc_id", "score_r", "rank")
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001, "A Study of Smoothing Methods for Language Models Applied
    * to Ad Hoc Information Retrieval" — public): score(q,d) =
    * Σ_t ln((tf + μ·p(t|C)) / (dl + μ)) over the query terms (zero-tf
    * terms contribute the smoothed floor — every doc scores). The
    * second classic retrieval family beside [[bm25TopK]], sharing its
    * determinism discipline: exact BIGINT counts, ONE fixed-shape ln
    * rounded to 6 dp per (doc, term), DECIMAL(18,6) sum.
    *
    * Scale: collection stats are one aggregate + a |terms|-row
    * broadcast; the per-doc scoring is a broadcast cross of the query
    * terms — no corpus token shuffle beyond the tf aggregate. */
  def dirichletQlTopK(docs: DataFrame, queryTerms: Seq[String],
                      k: Int = 10, mu: Double = 2000.0,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "dirichletQlTopK needs at least one query term")
    val terms = queryTerms.distinct.map(_.toLowerCase)
    val base = docs.select(col(idCol).as("doc_id"), toks(col(textCol)).as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
    val cn = base.agg(sum(col("dl")).as("cn"))
    val cf = base.select(explode(col("w")).as("term"))
      .filter(col("term").isInCollection(terms))
      .groupBy("term").agg(count(lit(1)).as("cf"))
      .crossJoin(broadcast(cn))
      .select(col("term"),
        (col("cf").cast("double") / col("cn").cast("double")).as("ptc"))
    val tf = base.select(col("doc_id"), col("dl"),
        explode(filter(col("w"), t => t.isInCollection(terms))).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val contrib = base.select(col("doc_id"), col("dl"))
      .crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "dl", "term"), "left")
      .withColumn("cc", round(log(
        (coalesce(col("tf"), lit(0L)).cast("double") + lit(mu) * col("ptc"))
          / (col("dl").cast("double") + lit(mu))), 6))
    val scored = contrib.groupBy(col("doc_id"))
      .agg(sum(col("cc").cast(DecimalType(18, 6))).cast("double").as("score_r"))
    val top = scored.orderBy(col("score_r").desc, col("doc_id")).limit(k)
    graft.operators.Ranking.withPosition(top, "rank")
      .select("doc_id", "score_r", "rank")
  }

  /** Character-trigram posting lists — the substring-search ("corpus
    * grep") index. One row per DISTINCT (gram, doc): per-doc trigrams are
    * deduped inside the array expression BEFORE the explode, so the
    * posting shuffle carries ≤ text-length rows per doc and the index
    * size is Σ distinct grams, independent of repetition.
    *
    * All codegen'd array expressions (`sequence` → `transform` →
    * `array_distinct`), no UDF. At 100 TB the index is built once,
    * bucketed by gram (hot grams salt naturally: postings are
    * id-sorted), and persisted next to the corpus.
    */
  def trigramIndex(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val t = col(s"`$textCol`")
    docs.select(col(s"`$idCol`").as("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), greatest(length(t) - 2, lit(0))),
          i => t.substr(i, lit(3))))).as("gram"))
      .filter(length(col("gram")) === 3)
  }

  /** Exact substring search driven by the trigram index: candidates are
    * docs whose posting lists contain EVERY query trigram (an equi-join
    * on ≤ |q| grams + a count-match — never a corpus scan), then the
    * `instr` verify runs on candidates only, so the result is exactly
    * `contains(text, query)` with no false positives and — because any
    * matching doc necessarily indexes all of the query's trigrams — no
    * false negatives. Output: (doc_id, first_pos, n_hits) for
    * non-overlapping occurrence count via length arithmetic.
    *
    * Pass a pre-built (persisted) `index` to skip the build; omit it for
    * one-shot search.
    */
  def substringSearch(docs: DataFrame, query: String,
                      idCol: String = "doc_id", textCol: String = "text",
                      index: Option[DataFrame] = None): DataFrame = {
    require(query.length >= 3, "substringSearch needs a query of >= 3 chars")
    val qGrams = query.sliding(3).toSeq.distinct
    val idx = index.getOrElse(trigramIndex(docs, idCol, textCol))
    val cands = idx.filter(col("gram").isInCollection(qGrams))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__ng"))
      .filter(col("__ng") === qGrams.size)
      .select("doc_id")
    val t = col(s"`$textCol`")
    val q = lit(query)
    docs.select(col(s"`$idCol`").as("doc_id"), t.as("__text"))
      .join(cands, Seq("doc_id"), "left_semi")
      .filter(instr(col("__text"), query) > 0)
      .select(col("doc_id"),
        instr(col("__text"), query).cast("long").as("first_pos"),
        ((length(col("__text")) - length(replace(col("__text"), q, lit("")))) /
          query.length).cast("long").as("n_hits"))
  }
}

/** Executor-side kernel for [[TextSearch.cosineSelfJoin]]'s block-pair
  * tasks: sorted-sparse-vector merge dots in EXACT integer arithmetic
  * (overflow-checked long, BigInt fallback), closing sqrt/divide/round in
  * double — the identical arithmetic the DuckDB full-quadratic oracle
  * performs, so results are hash-identical. Term order inside a vector
  * only needs to be CONSISTENT across docs (any total order works for the
  * merge), so both sides sort with the same String comparator here rather
  * than relying on engine-specific collations upstream.
  */
private[search] object CosineKernel {

  final case class DocVec(id: Any, terms: Array[String], wqs: Array[Long],
                          n2d: Double)

  /** One block row → parsed per-doc sparse vectors with exact ‖d‖². */
  def parseBlock(docs: Seq[Row]): Array[DocVec] =
    docs.iterator.map { d =>
      val tw = d.getSeq[Row](1)
      val idx = tw.indices.sortBy(i => tw(i).getString(0))
      val terms = new Array[String](idx.length)
      val wqs = new Array[Long](idx.length)
      var k = 0
      while (k < idx.length) {
        val r = tw(idx(k)); terms(k) = r.getString(0); wqs(k) = r.getLong(1)
        k += 1
      }
      DocVec(d.get(0), terms, wqs, norm2(wqs))
    }.toArray

  /** Exact Σwq² converted once to double (the only use is inside the
    * closing sqrt, where the oracle converts its exact HUGEINT the same
    * correctly-rounded way). */
  private def norm2(wqs: Array[Long]): Double = {
    val acc = new ExactSum
    var i = 0
    while (i < wqs.length) { acc.add(wqs(i), wqs(i)); i += 1 }
    acc.toDouble
  }

  /** Exact sparse merge dot over term-sorted vectors. */
  private def dot(a: DocVec, b: DocVec): Double = {
    val acc = new ExactSum
    var i = 0; var j = 0
    while (i < a.terms.length && j < b.terms.length) {
      val c = a.terms(i).compareTo(b.terms(j))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else { acc.add(a.wqs(i), b.wqs(j)); i += 1; j += 1 }
    }
    acc.toDouble
  }

  /** An exact sum of Long products: Long arithmetic until a product or
    * the running sum overflows, BigInt from then on. */
  private final class ExactSum {
    private var acc = 0L
    private var big: BigInt = null
    def add(x: Long, y: Long): Unit =
      if (big != null) big += BigInt(x) * BigInt(y)
      else
        try acc = Math.addExact(acc, Math.multiplyExact(x, y))
        catch { case _: ArithmeticException => big = BigInt(acc) + BigInt(x) * BigInt(y) }
    def toDouble: Double = if (big != null) big.toDouble else acc.toDouble
  }

  /** Spark round(x, 6) semantics (HALF_UP via BigDecimal.valueOf). */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** id_a < id_b with the boxed types Row carries (numeric/string ids). */
  private def lt(a: Any, b: Any): Boolean =
    a.asInstanceOf[Comparable[Any]].compareTo(b.asInstanceOf[Comparable[Any]]) < 0

  /** All qualifying pairs of one block pair. `sameBlock` iterates the
    * strict upper triangle by index so each unordered pair is computed
    * exactly once; output ids are always emitted in ascending order.
    */
  def blockPairs(xs: Array[DocVec], ys: Array[DocVec], sameBlock: Boolean,
                 tau: Double): Iterator[Row] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var i = 0
    while (i < xs.length) {
      val a = xs(i)
      var j = if (sameBlock) i + 1 else 0
      while (j < ys.length) {
        val b = ys(j)
        val cos = round6(dot(a, b) / math.sqrt(a.n2d * b.n2d))
        if (cos >= tau) {
          if (lt(a.id, b.id)) out += Row(a.id, b.id, cos)
          else out += Row(b.id, a.id, cos)
        }
        j += 1
      }
      i += 1
    }
    out.iterator
  }
}
