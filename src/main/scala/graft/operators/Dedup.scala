package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.SketchFunctions._
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline surface
  * (engine extension beyond the reference — BASELINE.json north star).
  *
  * All variants follow the same scale discipline: never materialize the
  * O(n²) pair space. Exact dedup is a hash-groupBy; near-dup goes
  * shingle → per-doc MinHash → LSH band keys → equi-join on band →
  * verify candidates only. The band join shuffles on band keys, so cost
  * tracks the number of *colliding* pairs, not n².
  */
object Dedup {

  /** Exact duplicate groups by full text equality (hash groupBy).
    * Returns one row per duplicated text: (fingerprint, n_dups, keeper,
    * dup_ids) with the minimum id as the canonical keeper.
    */
  def exactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    docs.groupBy(doc_fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_dups"),
        min(col(idCol)).as("keeper"),
        sort_array(collect_list(col(idCol))).as("dup_ids"))
      .filter(col("n_dups") > 1)

  /** Distinct-keeper projection: drop all but the minimum-id copy of each
    * exact-duplicate group. Scales as one shuffle on the fingerprint.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(doc_fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Per-doc MinHash digests over word shingles. */
  def docSketches(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", shingleSize: Int = 3): DataFrame =
    graft.sources.Lake.balance(docs).select(col(idCol),
      minhash_set(word_shingles(col(textCol), shingleSize)).as("mh"))

  /** Analytic LSH band planner — the d_lsh_calibration S-curve fed back
    * into the engine: among every (b, r) with b·r = nHashes, pick the
    * plan minimizing the expected banding error against a step function
    * at `threshold`, error = Σ over the 99-point Jaccard grid
    * (J = 0.01 … 0.99) of P(J) where J < τ (false-positive mass) plus
    * 1 − P(J) where J ≥ τ (miss mass), P(J) = 1 − (1 − J^r)^b. No data
    * scan — pure driver arithmetic; J^r and P round to 6 dp in exactly
    * the calibration query's order (Spark `round` HALF_UP semantics) and
    * the error accumulates in integer micro-units, so the argmin and its
    * (err asc, b asc) tie-break are exact and replayable on any engine.
    * Fewer bands win ties: fewer band keys = a cheaper collision join. */
  def planBands(threshold: Double, nHashes: Int): (Int, Int) = {
    require(nHashes > 0 && threshold > 0.0 && threshold < 1.0,
      "planBands needs nHashes > 0 and threshold in (0, 1)")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cands = (1 to nHashes).filter(nHashes % _ == 0).map { b =>
      val r = nHashes / b
      var err = 0L
      var ji = 1
      while (ji <= 99) {
        val j = ji.toDouble / 100.0
        val jr = r6(math.pow(j, r))
        val p = r6(1.0 - math.pow(1.0 - jr, b))
        val pm = math.round(p * 1e6)
        err += (if (j < threshold) pm else 1000000L - pm)
        ji += 1
      }
      (b, r, err)
    }
    val best = cands.minBy(c => (c._3, c._1))
    (best._1, best._2)
  }

  /** [[planBands]] as a relation — one row per candidate (b, r) with the
    * false-positive / miss / total expected-error masses and the chosen
    * flag, the table an engineer reviews before trusting the auto plan.
    * Same arithmetic as [[planBands]] expressed in DataFrame algebra
    * (identical rounding order), so the two provably agree; the ranking
    * window orders ≤ d(nHashes) rows, never data. */
  def bandPlanTable(spark: org.apache.spark.sql.SparkSession,
                    threshold: Double, nHashes: Int): DataFrame = {
    require(nHashes > 0 && threshold > 0.0 && threshold < 1.0,
      "bandPlanTable needs nHashes > 0 and threshold in (0, 1)")
    val pairs = (1 to nHashes).filter(nHashes % _ == 0).map(b => (b, nHashes / b))
    val grid = spark.createDataFrame(pairs).toDF("b", "r")
    val js = grid.select(col("b"), col("r"),
        explode(sequence(lit(1), lit(99))).as("ji"))
      .withColumn("j", col("ji").cast("double") / lit(100.0))
    val jr = round(pow(col("j"), col("r")), 6)
    val p = round(lit(1.0) - pow(lit(1.0) - jr, col("b")), 6)
    val agg = js
      .withColumn("p_micro", round(p * lit(1000000.0), 0).cast("long"))
      .groupBy("b", "r")
      .agg(
        sum(when(col("j") < lit(threshold), col("p_micro"))
          .otherwise(lit(0L))).as("fp_micro"),
        sum(when(col("j") >= lit(threshold), lit(1000000L) - col("p_micro"))
          .otherwise(lit(0L))).as("fn_micro"))
      .withColumn("err_micro", col("fp_micro") + col("fn_micro"))
    val w = Window.orderBy(asc("err_micro"), asc("b"))
    agg.withColumn("chosen", row_number().over(w) === 1)
      .select(col("b"), col("r"),
        (col("fp_micro").cast("double") / 1e6).as("exp_fp"),
        (col("fn_micro").cast("double") / 1e6).as("exp_fn"),
        (col("err_micro").cast("double") / 1e6).as("exp_err"),
        col("chosen"))
      .orderBy("b")
  }

  /** MinHash+LSH near-duplicate candidate pairs with verified estimated
    * Jaccard ≥ threshold. Standard banding: `bands` keys per doc; docs
    * sharing any band key become candidates; candidates are verified with
    * the full digest. Output: (id_a, id_b, jaccard), id_a < id_b.
    *
    * `bands` defaults to 0 = AUTO: [[planBands]] picks the
    * expected-error-minimizing (b, r) for this threshold over the
    * digest's [[graft.core.MinHash.NumPerm]] slots. Pass an explicit
    * band count to pin a plan (the catalog queries pin the historical
    * 20×5 so their oracles replay a fixed banding).
    *
    * Shuffle discipline: the band self-join and pair dedup carry ONLY ids —
    * the 100-slot digests are re-attached afterwards by two joins, so the
    * wide payload never rides through the collision shuffle.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleSize: Int = 3, bands: Int = 0): DataFrame = {
    val nBands =
      if (bands == 0) planBands(threshold, graft.core.MinHash.NumPerm)._1
      else bands
    // persisted because three branches (banding + both digest re-attach
    // joins) consume it; blocks release with the session or an explicit
    // spark.catalog.clearCache() between batches
    val sk = docSketches(docs, idCol, textCol, shingleSize).persist()
    val banded = sk.select(col(idCol).as("id"),
      explode(minhash_bands(col("mh"), nBands)).as("band"))
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b") // a pair can collide in several bands
    pairs
      .join(sk.select(col(idCol).as("id_a"), col("mh").as("mh_a")), "id_a")
      .join(sk.select(col(idCol).as("id_b"), col("mh").as("mh_b")), "id_b")
      .withColumn("jaccard", minhash_jaccard(col("mh_a"), col("mh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dups: 64-bit fingerprints, banded into `maxHamming + 1`
    * bit-range chunks — by pigeonhole, any pair within Hamming distance ≤
    * maxHamming agrees on at least one whole chunk — then verified by
    * exact Hamming distance. maxHamming ≤ 31 (chunks need ≥ 2 bits).
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = graft.sources.Lake.balance(docs)
      .select(col(idCol).as("id"), simhash64(col(textCol)).as("sh"))
    hamming64Pairs(sh, maxHamming)
  }

  /** Banded Hamming-distance pair search over any 64-bit hash relation
    * `(id, sh)` — the shared engine under [[simhashNearDups]] and
    * [[graft.multimodal.Multimodal.dhashNearDups]]. Splitting the hash
    * into `maxHamming + 1` chunks guarantees exact recall at distance ≤
    * maxHamming (pigeonhole: some chunk must match), and the candidate
    * join shuffles only (id, hash, chunk) rows.
    */
  def hamming64Pairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31, "maxHamming must be in [0, 31]")
    val nChunks = maxHamming + 1
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks) // even-ish bit ranges
    val chunked = hashes.select(col("id"), col("sh"),
      explode(array((0 until nChunks).map { i =>
        val width = bounds(i + 1) - bounds(i)
        struct(lit(i).as("chunk_idx"),
          shiftrightunsigned(col("sh"), bounds(i))
            .bitwiseAND(lit((1L << width) - 1)).as("chunk_key"))
      }: _*))
        .as("c"))
      .select(col("id"), col("sh"), col("c.chunk_idx"), col("c.chunk_key"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk_idx") === col("b.chunk_idx") &&
        col("a.chunk_key") === col("b.chunk_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact duplicated-SUBSTRING spans (the "deduplicating training data"
    * substring-level pass, Lee et al. 2021, arXiv:2107.06499 — there via
    * corpus suffix arrays), expressed relationally: any duplicated token
    * run of length ≥ `minTokens` is a maximal island of duplicated
    * `minTokens`-grams, so (1) explode every token position's L-gram,
    * (2) one corpus-wide groupBy on the gram hash finds grams occurring
    * more than once (keeping the lexicographic-first (id, pos) occurrence
    * as the canonical copy), (3) a per-doc gaps-and-islands window merges
    * the surviving positions into maximal spans.
    *
    * Scale posture: the gram relation shuffles ONCE on the gram hash
    * (map-side combine collapses per-partition duplicates); the stats
    * join is co-partitioned on the same hash, so the stage-1 exchange is
    * reused, not re-scanned; the island window partitions by doc — never
    * more rows in one partition than one document's tokens. Docs shorter
    * than `minTokens` carry no L-gram and are skipped by construction.
    *
    * Output: one row per (id, span): token offsets [start_tok, end_tok]
    * (0-based, inclusive) and the span's token count. The canonical first
    * occurrence of each gram is NOT marked, so one copy of every
    * duplicated run survives — removal semantics, not just detection.
    */
  def duplicateSpans(docs: DataFrame, minTokens: Int = 8,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    // spread BEFORE the L-gram explode: a small corpus parquet is 1-2
    // input splits, and explode keeps input partitioning — the
    // tokenize+shingle+hash work would run on 1-2 cores (the
    // a_bootstrap_ci parallelism-cliff class). Sized to the session's
    // shuffle parallelism; at cluster scale the scan has many splits
    // and AQE can coalesce the exchange.
    val spread = math.max(docs.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val grams = docs.repartition(spread).filter(trim(col(textCol)) =!= "")
      .filter(size(split(trim(col(textCol)), "\\s+")) >= minTokens)
      .select(col(idCol).cast("long").as("id"),
        posexplode(word_shingles(col(textCol), minTokens)).as(Seq("pos", "gram")))
      // engine-internal collision key (the oracle groups by the gram TEXT,
      // so the hash choice is free): xxhash64 keeps the shuffle key at 8
      // bytes and codegen'd, vs a 32-char md5 hex string
      .select(col("id"), col("pos"), xxhash64(col("gram")).as("gh"))
    val stats = grams.groupBy("gh").agg(count(lit(1)).as("occ"),
      min(struct(col("id"), col("pos"))).as("first"))
    val dupPos = grams.join(stats, "gh")
      .filter(col("occ") > 1 &&
        !(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select("id", "pos")
    val wDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      .withColumn("prev", lag(col("pos"), 1).over(wDoc))
      .withColumn("brk", when(col("prev").isNull || col("pos") > col("prev") + 1, 1L)
        .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(wDoc))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + minTokens - 1).cast("long").as("end_tok"))
      .withColumn("span_tokens", col("end_tok") - col("start_tok") + 1)
      .select("id", "start_tok", "end_tok", "span_tokens")
  }

  /** Removal companion of [[duplicateSpans]]: excise every duplicated
    * span from each document and reassemble the remaining tokens in
    * order. Per-doc spans ride as an array column, so the keep test is a
    * row-local `filter(toks, (t, i) => !exists(spans, …))` — no token-
    * level join; the only shuffles are duplicateSpans' own plus one
    * per-doc span collect.
    */
  def removeDuplicateSpans(docs: DataFrame, minTokens: Int = 8,
                           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spans = duplicateSpans(docs, minTokens, idCol, textCol)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("spans"))
    docs
      .select(col(idCol).cast("long").as("id"), col(textCol))
      .join(spans, Seq("id"), "left")
      .withColumn("__toks",
        when(trim(col(textCol)) === "", array().cast("array<string>"))
          .otherwise(split(trim(col(textCol)), "\\s+")))
      .withColumn("__spans", coalesce(col("spans"),
        array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")))
      .withColumn("__kept", filter(col("__toks"), (t, i) =>
        !exists(col("__spans"), s =>
          i.cast("long") >= s.getField("start_tok") &&
            i.cast("long") <= s.getField("end_tok"))))
      .select(col("id"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(col("__kept"), " ").as(textCol))
  }

  /** Exact word-n-gram Jaccard over a candidate pair relation — the
    * verification stage (and a standalone small-scale dedup). `pairs` must
    * have (id_a, id_b); fully SQL-expressible for the oracle.
    */
  def ngramJaccardPairs(docs: DataFrame, pairs: DataFrame, n: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol),
      array_distinct(word_shingles(col(textCol), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", round(array_jaccard(col("sh_a"), col("sh_b")), 6))
      .select("id_a", "id_b", "jaccard")
  }

  /** Weighted (multiset / tf) Jaccard over candidate pairs:
    * J_w(A,B) = Σ_t min(tf_A(t), tf_B(t)) / Σ_t max(tf_A(t), tf_B(t))
    * — the ground-truth similarity tf-weighted dedup thresholds
    * against, where the set Jaccard of [[ngramJaccardPairs]] treats a
    * token repeated 50× and once as identical (Ioffe 2010 §1 frames
    * weighted Jaccard as exactly this generalization; public). The max
    * sum never materializes: Σmax = tot_A + tot_B − Σmin since
    * min + max = a + b per token, so only the INTERSECTION joins.
    * Exact integer counts end to end; one 6-dp division per pair.
    *
    * Scale: the tf relation shuffles once on (doc, token); the Σmin
    * join is candidate-scoped (pairs × their tokens), never corpus ×
    * corpus. Output: (id_a, id_b, wjaccard). */
  def weightedJaccardPairs(docs: DataFrame, pairs: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    weightedJaccardOn(termFreqs(docs, idCol, textCol), "tf", pairs)

  /** Weighted MinHash digests by the classic integer-weight reduction
    * (Ioffe 2010 §2 credits it as the folklore baseline; public): a
    * multiset with integer tf weights has the SAME weighted Jaccard as
    * the plain set {(t, i) : 1 ≤ i ≤ tf(t)}, so expanding each token
    * into tf tagged copies ("tok#i") and running the engine's standard
    * 100-slot MinHash yields an unbiased weighted-Jaccard estimator —
    * the scale path over [[weightedJaccardPairs]]' exact pair scoring,
    * reusing the whole digest/band/oracle machinery unchanged.
    *
    * Scale: the expansion is Σtf elements ∝ corpus TOKENS (not distinct
    * types) — the documented cost of the reduction; real-valued weights
    * would need ICWS, out of the integer-exact contract. One shuffle to
    * the per-doc digest. Output: (id, mh array<bigint>[100]). */
  def weightedMinHashDigests(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    val tf = termFreqs(docs, idCol, textCol)
    tf.select(col("id"), explode(expr(
        "transform(sequence(1, cast(tf as int)), i -> concat(tok, '#', i))")).as("v"))
      .groupBy("id")
      .agg(graft.functions.SketchFunctions.minhash_agg(col("v")).as("mh"))
  }

  /** Per-(doc, token) integer micro weights w = tf · idf_micro with
    * smoothed idf_micro = halfAway(ln((N+1)/df)·1e6) > 0 — the
    * REAL-VALUED weight relation [[icwsSignatures]] sketches and the
    * exact weighted Jaccard grades against (weighted Jaccard is
    * invariant to the uniform 1e6 scaling, so integer micros keep the
    * exact side order-independent). */
  def idfWeights(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", shingle: Int = 1,
                 wide: Boolean = true): DataFrame = {
    def rha(y: Column) = when(y >= 0, floor(y + 0.5)).otherwise(ceil(y - 0.5))
    // shingle = 1: whitespace unigrams; n > 1: word n-gram shingles
    // (word_shingles semantics incl. the short-doc whole-text collapse)
    val toks =
      if (shingle <= 1) explode(split(trim(col(textCol)), "\\s+"))
      else explode(word_shingles(col(textCol), shingle))
    // lazy-checkpoint tf: both the idf branch and the final join read
    // it, and recomputing means a second tokenize+explode scan pass.
    // balance first (guide §2.5): the shingle explode multiplies
    // per-byte compute ~50×, so a small-on-disk corpus otherwise runs
    // the whole tokenize pass on the scan's 1-2 splits
    val tf = (if (wide) graft.sources.Lake.balance(docs) else docs)
      .select(col(idCol).as("id"), toks.as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val idf = tf.groupBy("tok").agg(countDistinct(col("id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), rha(log((col("nd") + lit(1)).cast("double") /
        col("df").cast("double")) * lit(1000000.0)).cast("long").as("idfm"))
    tf.join(broadcast(idf), "tok")
      .select(col("id"), col("tok"), (col("tf") * col("idfm")).as("w"))
  }

  /** ICWS weighted-MinHash signatures (Ioffe 2010, Consistent Weighted
    * Sampling; public) — the REAL-weight scale path where the
    * tagged-copy expansion of [[weightedMinHashDigests]] only covers
    * integer tf: P[sig_k(A) = sig_k(B)] = J_w(A, B) exactly, per
    * Ioffe's consistency theorem. Log-domain evaluation: the slot key
    * compares ln(a) = ln(c) − r·(t_k − β) − r, so NO exp is ever
    * computed — determinism rests only on the house-proven
    * round(ln(u), 6) seam (the weightedSample A-ES discipline), md5
    * uniforms u_j = (md5_low32(tok:icws:k:j) + 1)/2³², exact dyadic β,
    * and same-order double arithmetic; r, c are Gamma(2,1) =
    * −(ln u + ln u'). Slot argmin ties break to the ascending token.
    *
    * Scale shape: |weights|×K row-local projections, one (id, k) hash
    * aggregate — corpus-linear at fixed K, no pairing.
    *
    * @param weights (id, tok, w) with w > 0 (e.g. [[idfWeights]]).
    * @return (id, k, s_tok, s_tk) — K rows per doc. */
  def icwsSignatures(weights: DataFrame, k: Int = 32,
                     wide: Boolean = true): DataFrame = {
    require(k >= 1, "k >= 1")
    def u(j: Int) =
      (graft.functions.SketchFunctions.md5_low32(concat_ws(":",
        col("tok"), lit("icws"), col("k").cast("string"), lit(j.toString)))
        .cast("double") + lit(1.0)) / lit(4294967296.0)
    // The slot parameters (r, c, beta) depend only on (tok, k), never
    // on the document — derive them once per DISTINCT token and fan the
    // weight rows out through the join, instead of paying 5 md5
    // evaluations per (doc, tok, slot) row (per-distinct-token hashing
    // is ~df̄× cheaper; at sf0.1 documents that is 51 s → seconds).
    // Explicitly re-widen after the distinct (guide §2.5): AQE
    // coalesces the post-distinct exchange by BYTES (a few MB of
    // tokens → 1 partition), but the stage downstream fans out ×k and
    // evaluates 5 md5 draws per (tok, slot) row — measured at sf0.1 as
    // a single-task 9.8 s stage, the whole query's floor. A
    // hash(tok)-keyed repartition is REMOVED as redundant against the
    // distinct's own exchange, so pin a round-robin repartition with an
    // explicit count (REPARTITION_BY_NUM — AQE neither removes nor
    // coalesces it); the count follows the session's shuffle
    // parallelism, not a local constant.
    // `wide = false` skips both pins for deliberately tiny inputs
    // (the 25-doc d_icws_minhash audit regressed 2.6 -> 4.2 s paying
    // fixed-width exchanges on a 325-pair relation)
    // Width semantics (r16 verdict follow-up): the round-robin pin
    // spreads a COMPUTE-dense fan-out (×k explode, 5 md5 draws per
    // row), so its width follows CORE parallelism — on a cluster the
    // shuffle-partition conf tracks data volume and can be orders of
    // magnitude wider than the compute slots this stage can use. The
    // token pin is a JOIN layout (data-keyed exchange) and stays on the
    // session's shuffle parallelism.
    val coreP = weights.sparkSession.sparkContext.defaultParallelism
    val shufP = weights.sparkSession.sessionState.conf.numShufflePartitions
    def pinRR(df: DataFrame) = if (wide) df.repartition(coreP) else df
    def pinTok(df: DataFrame) =
      if (wide) df.repartition(shufP, col("tok")) else df
    val params = pinRR(weights.select(col("tok")).distinct())
      .select(col("tok"), explode(sequence(lit(0), lit(k - 1))).as("k"))
      .withColumn("r", -(round(log(u(1)), 6) + round(log(u(2)), 6)))
      .withColumn("lnc", round(log(-(round(log(u(3)), 6) + round(log(u(4)), 6))), 6))
      .withColumn("beta", u(5))
      .select(col("tok"), col("k"), col("r"), col("lnc"), col("beta"))
    // pin the join-side layout too: the slot join + (id, k) partial
    // aggregate is the second compute-dense stage (measured 3.8 s on
    // the 4 tasks AQE's byte budget allows); a user-pinned hash(tok)
    // exchange is exactly the layout the join requires, so no extra
    // shuffle is paid and the join stage cannot be byte-coalesced
    val paramsP = pinTok(params)
    val slots = weights
      .withColumn("lnw", round(log(col("w").cast("double")), 6))
      .join(paramsP, "tok")
      .withColumn("tk", floor(col("lnw") / col("r") + col("beta")).cast("long"))
      .withColumn("key", col("lnc")
        - col("r") * (col("tk").cast("double") - col("beta")) - col("r"))
    slots.groupBy("id", "k")
      .agg(min(struct(col("key"), col("tok"), col("tk"))).as("m"))
      .select(col("id"), col("k"),
        col("m.tok").as("s_tok"), col("m.tk").as("s_tk"))
  }

  /** Exact weighted Jaccard over an arbitrary integer weight relation
    * (id, tok, w) — the [[weightedJaccardPairs]] Σmin/Σmax identity on
    * caller-supplied weights (e.g. [[idfWeights]] micros). */
  def weightedJaccardOnWeights(weights: DataFrame, pairs: DataFrame): DataFrame =
    weightedJaccardOn(weights, "w", pairs)

  /** Whitespace-token term frequencies (id, tok, tf) of `docs`. */
  private def termFreqs(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))

  /** The Σmin/Σmax weighted Jaccard of `pairs` over the integer weights
    * in column `w` of (id, tok, w): Σmax = tot_A + tot_B − Σmin, so only
    * the intersection joins. */
  private def weightedJaccardOn(weights: DataFrame, w: String,
                                pairs: DataFrame): DataFrame = {
    // Token-exploded verify join, NOT per-pair map lookups: Spark map
    // element_at is a linear key scan, so a fetch-and-score fold costs
    // O(|A|·|B|) string compares per pair (measured 2.5× slower at
    // sf0.1's 2M candidates); the exploded equi-join is O(Σ tokens)
    // through the shuffle with map-side partial Σmin.
    val tot = weights.groupBy("id").agg(sum(col(w)).as("tot"))
    val inter = pairs
      .join(weights.select(col("id").as("id_a"), col("tok"), col(w).as(s"${w}_a")), "id_a")
      .join(weights.select(col("id").as("id_b"), col("tok"), col(w).as(s"${w}_b")),
        Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(sum(least(col(s"${w}_a"), col(s"${w}_b"))).as("smin"))
    pairs
      .join(tot.select(col("id").as("id_a"), col("tot").as("tot_a")), "id_a")
      .join(tot.select(col("id").as("id_b"), col("tot").as("tot_b")), "id_b")
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("smin", coalesce(col("smin"), lit(0L)))
      .select(col("id_a"), col("id_b"),
        round(col("smin").cast("double") /
          (col("tot_a") + col("tot_b") - col("smin")).cast("double"), 6)
          .as("wjaccard"))
  }

  /** The band keys of ICWS signatures, `rows` hashes per band: (id, band,
    * bkey), bkey the band's (k-ordered) `s_tok@s_tk` slots joined by `|`. */
  private[graft] def icwsBandKeys(sig: DataFrame, rows: Int): DataFrame =
    sig.withColumn("band", expr(s"k div $rows"))
      .groupBy("id", "band")
      .agg(concat_ws("|", expr(
        "transform(array_sort(collect_list(struct(k, s_tok, s_tk)))," +
          " x -> concat(x.s_tok, '@', x.s_tk))")).as("bkey"))

  /** Banded near-dup join over [[icwsSignatures]] — the weighted
    * (tf·idf) sibling of [[minhashNearDups]]: signatures band (k div
    * rows), docs colliding on any full band become candidates, and
    * features default to word 3-shingles (`shingle = 3`) like
    * [[minhashNearDups]] — a unigram feature space on a small-vocab
    * corpus makes nearly EVERYTHING a banding collision (measured at
    * sf0.1: 2.0M candidates from 5k docs = 16% of all pairs, 51 s;
    * shingled: hundreds), and
    * candidates verify against the EXACT weighted Jaccard on the same
    * weight relation (so every emitted pair is a true ≥ τ pair;
    * recall follows the banded S-curve, 1−(1−J^r)^b). Band keys are
    * the slot (token, t_k) pairs concatenated in slot order —
    * deterministic on both engines.
    *
    * Scale: candidates shuffle on (band, key) buckets only; the verify
    * join is candidate-scoped. Output: (id_a, id_b, wjaccard ≥ τ). */
  def icwsNearDups(docs: DataFrame, threshold: Double, kHashes: Int = 32,
                   bands: Int = 8, idCol: String = "doc_id",
                   textCol: String = "text", shingle: Int = 3): DataFrame = {
    require(kHashes % bands == 0, "bands must divide kHashes")
    val rows = kHashes / bands
    val wts = idfWeights(docs, idCol, textCol, shingle)
      .localCheckpoint(eager = false)
    val sig = icwsSignatures(wts, kHashes)
    // checkpoint the band relation: the candidate self-join reads it
    // twice, and without the barrier AQE re-executes the whole
    // signature pipeline per side
    val bnd = icwsBandKeys(sig, rows).localCheckpoint(eager = false)
    val cand = bnd.as("a").join(bnd.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    weightedJaccardOnWeights(wts, cand)
      .filter(col("wjaccard") >= threshold)
  }

  /** EXACT Jaccard threshold self-join without LSH — prefix filtering
    * (PPJoin family, Xiao et al. WWW 2008): order each document's
    * shingle set by ascending global frequency (rarest first); a pair
    * with J ≥ τ MUST share a token among each side's first
    * `|S| − ceil(τ·|S|) + 1` tokens, so only prefix-token collisions
    * become candidates; the length filter (τ·|A| ≤ |B| ∧ τ·|B| ≤ |A|)
    * prunes further, and survivors pay one exact intersection count.
    * Unlike [[minhashNearDups]] this misses NOTHING — exact recall at
    * exact precision.
    *
    * Scale: candidates shuffle on (rare-)prefix tokens only — the
    * frequency ordering is precisely what keeps hot shingles out of
    * prefixes; the verify join is candidate-scoped. No all-pairs
    * anywhere. Output: (id_a, id_b, jaccard ≥ τ), id_a < id_b.
    */
  def exactJaccardSelfJoin(docs: DataFrame, threshold: Double, n: Int = 3,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the token relation feeds frequency, sizes, the prefix, and the
    // verify join; it is NOT persisted — recomputing the columnar
    // scan+explode is cheaper than caching millions of shingle rows
    // (measured at sf0.1: persist costs ~8% wall)
    // balance before the shingle explode (guide §2.5): the token
    // relation is re-derived by four consumers and each pass otherwise
    // runs on the corpus scan's 1-2 splits (small-on-disk parquet,
    // compute-dense explode)
    val toks = graft.sources.Lake.balance(docs)
      .select(col(idCol).as("id"),
        explode(array_distinct(word_shingles(col(textCol), n))).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("__f"))
    val sizes = toks.groupBy("id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("id")).orderBy(col("__f"), col("tok"))
    val prefix = toks.join(freq, "tok")
      .withColumn("__pos", row_number().over(w))
      .join(sizes, "id")
      .filter(col("__pos") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("tok"), col("sz"))
    val cands = prefix.join(
        prefix.select(col("id").as("id_b"), col("tok"), col("sz").as("sz_b")), "tok")
      .filter(col("id") < col("id_b"))
      .filter(col("sz_b").cast("double") >= lit(threshold) * col("sz") &&
        col("sz").cast("double") >= lit(threshold) * col("sz_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    val inter = cands
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__i"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("__sa")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("__sb")), "id_b")
      .withColumn("jaccard", round(col("__i").cast("double") /
        (col("__sa") + col("__sb") - col("__i")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Blocked edit-distance pairs — the record-linkage / fuzzy-dedup
    * primitive: candidates share a blocking key (a cheap deterministic
    * expression of the string — last token, prefix, phonetic code…),
    * and only in-block pairs pay the Levenshtein verify. Spark's
    * codegen'd `levenshtein` is exact-integer, so the oracle replays
    * bit-for-bit.
    *
    * Scale posture: the join is an equi-join on the block key — no
    * cross product; work is Σ block², so pick blocking granularity to
    * bound block sizes (and salt genuinely hot blocks). Each value
    * string rides the shuffle once. Output: (val_a, val_b, dist ≤
    * `maxDist`), val_a < val_b.
    */
  def editDistancePairs(values: DataFrame, valCol: String,
                        blockExpr: org.apache.spark.sql.Column,
                        maxDist: Int): DataFrame = {
    val v = values.select(col(s"`$valCol`").as("val_a"), blockExpr.as("__blk"))
      .distinct()
    v.join(v.select(col("val_a").as("val_b"), col("__blk")), "__blk")
      .filter(col("val_a") < col("val_b"))
      .withColumn("dist", levenshtein(col("val_a"), col("val_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("val_a", "val_b", "dist")
  }

  /** Resolve near-dup pairs into connected components by STAR
    * CONTRACTION: each round the ORIGINAL bidirectional edge relation is
    * rewritten through the current labels (edges inside one region
    * become self-loops and drop; the survivors connect region heads),
    * every head merges into its minimum adjacent head, and one hop of
    * pointer compression shortens the chains the simultaneous merges
    * create. Regions merge pairwise-or-better per round, so convergence
    * is logarithmic in component size even on a bare cycle (where a
    * plain neighbor-min + pointer-jump round only extends the frontier
    * one edge — measured: a 5k-node affine-permutation cycle did not
    * converge in 16 such rounds). Each round is one join + groupBy;
    * lineage is checkpoint-truncated per round so the iterative plan
    * stays flat (the planning-cost lesson from the sketch catalog
    * applies doubly to loops).
    *
    * The contraction is deliberately computed from the ORIGINAL edges
    * through the CURRENT labels — never by iterating the previous
    * round's contracted relation. One-hop compression lets a node's
    * label lag behind its head's label chain; under an iterated
    * relation, once the lagging label's id stops appearing the node is
    * stranded while the relation empties, and the loop would exit
    * "converged" with split clusters (observed on sorted-id paths from
    * n≈70). Contracting from the original edges keeps every node's
    * membership observable each round: a lagging node keeps emitting
    * cross-region edges until its label is fully current, so zero
    * surviving edges really does mean every component is one region.
    *
    * If the loop exits UNCONVERGED it throws rather than silently
    * returning split clusters (dropNearDuplicates would keep documents
    * that belong to an existing cluster) — raise `maxIter` for
    * pathologically deep graphs. The default 48 gives vast diameter
    * headroom; converged loops exit early, so headroom costs nothing.
    * Output: (id, cluster), cluster = the component's minimum id.
    *
    * `checkpointDir`: when set, rounds checkpoint RELIABLY to that
    * directory (HDFS/S3 on a cluster) instead of `localCheckpoint` —
    * local checkpoints pin lineage to executor storage, so losing an
    * executor mid-loop kills the job; the reliable mode survives it at
    * the price of a write per round. Local mode stays the single-JVM
    * default. Each round checkpoints into its own subdirectory; on exit
    * every round's files except the returned round's are deleted and the
    * session's prior checkpoint dir is restored (the RDD checkpoint API
    * only has session-global dir state, so it IS mutated mid-run).
    *
    * Convergence costs no extra job: the round converged iff the
    * contracted relation has ZERO cross-region edges, and that count is
    * observed via `Dataset.observe` DURING the round's checkpoint action
    * instead of a separate join + isEmpty scan (which doubled the
    * per-round job count).
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 48,
                      checkpointDir: Option[String] = None): DataFrame =
    resolveClustersStats(pairs, maxIter, checkpointDir)._1

  /** [[resolveClusters]] plus the contraction-pass count (including the
    * final pass that observes zero cross-region edges) — the number the
    * logarithmic-convergence scale claim rests on; consumed by the
    * `cluster_scale` bench probe. */
  def resolveClustersStats(pairs: DataFrame, maxIter: Int = 48,
                           checkpointDir: Option[String] = None): (DataFrame, Int) = {
    import org.apache.spark.sql.types.DecimalType
    val sc = pairs.sparkSession.sparkContext
    val priorDir = sc.getCheckpointDir
    val runDir = checkpointDir.map(d => s"$d/graft-cc-${java.util.UUID.randomUUID()}")
    val roundDirs = scala.collection.mutable.ArrayBuffer.empty[String]
    var rounds = 0
    def cpOnly(df: DataFrame): DataFrame = {
      val cp = runDir match {
        case Some(rd) =>
          val d = s"$rd/round$rounds"
          rounds += 1
          sc.setCheckpointDir(d)
          roundDirs += d
          df.checkpoint(eager = true)
        case None => df.localCheckpoint(eager = true)
      }
      // Stats barrier: Dataset.checkpoint rewrites the ORIGIN plan's
      // estimated stats onto the checkpointed leaf, so each round's
      // leaf carries the previous round's join-tree sizeInBytes PRODUCT
      // — the estimate compounds ~s⁶ per round, and by ~20 rounds the
      // driver spends minutes multiplying million-digit BigIntegers
      // inside stats estimation (found by the 10⁶-node cluster_scale
      // probe; ≤13-round graphs just never hurt enough to notice).
      // Re-wrapping the ALREADY-MATERIALIZED rdd in a fresh DataFrame
      // resets the leaf to default stats; the data is untouched and the
      // only added work is Row conversion at consumption, which the
      // tiny label/edge relations never feel.
      df.sparkSession.createDataFrame(cp.rdd, cp.schema)
    }
    // Convergence is observed as the CONTRACTED-EDGE COUNT during each
    // round's checkpoint action (zero inter-region edges ⇔ done) — one
    // action per round, no separate isEmpty scan. Deliberately the
    // STRING-named observe + queryExecution.observedMetrics, NOT the
    // Observation helper: Observation registers itself in the session's
    // ObservationManager, a non-serializable field that is null until
    // first use — after which any closure capturing the session (e.g. an
    // MLlib model with a training summary) fails task serialization.
    def rmDir(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
    }
    var keepDir: Option[String] = None
    try {
      val edgesCp = cpOnly(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
      var labels = cpOnly(edgesCp.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      keepDir = roundDirs.lastOption // labels' files must survive cleanup
      // STAR CONTRACTION, not static-graph min-propagation: each round
      // rewrites the ORIGINAL edge relation through the current labels
      // (edges between nodes of one region become self-loops and drop;
      // the survivors connect region heads), merges every head into its
      // minimum adjacent head, then pointer-compresses the label chains
      // the simultaneous merges create. Regions merge pairwise-or-better
      // per round, so convergence is logarithmic in component size.
      // Min-propagation over the STATIC edge set — the previous
      // algorithm — only extends a region by its boundary per round (BFS
      // in disguise): a 2.5k-node affine-permutation cycle at sf0.1
      // needed ~diameter/2 rounds and blew every iteration budget.
      // ALWAYS contract edgesCp, never the previous round's contracted
      // relation: one-hop compression lets a label lag its head's chain,
      // and an iterated relation can empty while a lagging node is still
      // stranded — a false "converged" with split clusters (sorted-id
      // paths split from n≈70 under the iterated variant).
      var i = 0
      var converged = false
      while (i < maxIter && !converged) {
        // contract: remaining rows are edges BETWEEN current regions —
        // their count is observed during the checkpoint action (zero ⇔
        // every component is one region ⇔ converged)
        val metric = s"graft_cc_edges_$i"
        val contracted = edgesCp
          .join(labels.select(col("id").as("src"), col("label").as("lsrc")), "src")
          .join(labels.select(col("id").as("dst"), col("label").as("ldst")), "dst")
          .select(col("lsrc").as("src"), col("ldst").as("dst"))
          .filter(col("src") =!= col("dst"))
          .observe(metric, count(lit(1)).as("ecnt"))
        val cE = cpOnly(contracted)
        val ecnt = contracted.queryExecution.observedMetrics.get(metric)
          .map(_.getAs[Long]("ecnt")).getOrElse(0L)
        if (ecnt == 0L) converged = true
        else {
          // every head adopts its minimum adjacent head (keeping itself
          // when already minimal) …
          val hl = cE.groupBy(col("src").as("h")).agg(min(col("dst")).as("hmin"))
            .select(col("h"), least(col("h"), col("hmin")).as("hl"))
          val relabeled = labels
            .join(hl, labels("label") === hl("h"), "left")
            .select(col("id"), coalesce(col("hl"), col("label")).as("label"))
          // … then label := label(label): h1→h2 and h2→h3 happened
          // simultaneously, so one hop of compression keeps chains short
          // (labels are node ids, so the relation is its own hop table).
          // This MUST be a self-join of the relabeled relation, not a
          // second hl hop: a node's label can be STALE from an earlier
          // round (one-hop compression never fully flattens chains), and
          // only node t's own row resolves t's current state — hl covers
          // only THIS round's head merges, and routing label∘label
          // through it stalls convergence (r15 measured: the 300-node
          // sorted-id path stopped converging, and per-round checkpoint
          // stats of the longer run compounded into BigInt blowup).
          labels = cpOnly(relabeled
            .join(relabeled.select(col("id").as("label"), col("label").as("ll")),
              Seq("label"), "left")
            .select(col("id"),
              least(col("label"), coalesce(col("ll"), col("label"))).as("label")))
          // the RETURNED relation is labels, so ITS round dir is the one
          // that must survive cleanup — the converged round's final
          // checkpoint is the (empty-diff) edge relation, not labels
          keepDir = roundDirs.lastOption
        }
        i += 1
      }
      if (!converged) {
        // unconverged exit means labels may not be components — failing
        // beats silently returning split clusters
        throw new IllegalStateException(
          s"resolveClusters did not converge in $maxIter rounds; raise maxIter")
      }
      (labels.select(col("id"), col("label").as("cluster")), i)
    } finally {
      roundDirs.filterNot(keepDir.contains).foreach(rmDir)
      // restore the caller's checkpoint dir; if none was set, fall back to
      // the caller-provided root (a sane dir the caller owns) rather than
      // leaving the global state pointing into this run's subtree
      (priorDir orElse checkpointDir).foreach(sc.setCheckpointDir)
    }
  }

  /** Corpus-level near-dup removal: resolve pair clusters, keep each
    * component's minimum-id representative (plus every unpaired doc).
    * The anti-join ships only the (id, cluster) relation — tiny next to
    * the corpus — so the docs table streams through untouched.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame = {
    val losers = resolveClusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental cluster-label maintenance — fold a NEW batch of
    * duplicate pairs into a STORED label catalog without replaying
    * history: the catalog contracts to ONE star edge per non-singleton
    * node (id — cluster), so the merge graph is |catalog| + |newPairs|
    * edges no matter how many raw pairs history ever produced (the
    * `incrementalDedupReport` never-rescan discipline applied to the
    * cluster STATE itself). [[resolveClusters]] over the union
    * re-labels; ids untouched by new edges keep their old label
    * (labels are min-member ids on both sides, so merged labels are
    * consistent: the min of a merged component is the min over all
    * historical members). Output: the updated (id, cluster) catalog
    * covering every id seen in either input.
    */
  def mergeClusterLabels(catalog: DataFrame, newPairs: DataFrame): DataFrame = {
    val starEdges = catalog.filter(col("id") =!= col("cluster"))
      .select(col("cluster").as("id_a"), col("id").as("id_b"))
    val merged = resolveClusters(
      starEdges.unionByName(newPairs.select(col("id_a"), col("id_b"))))
    val allIds = catalog.select(col("id"))
      // a hand-filtered catalog may reference a cluster id without
      // carrying its (id == cluster) representative row — the updated
      // catalog must still cover it
      .unionByName(catalog.select(col("cluster").as("id")))
      .unionByName(newPairs.select(col("id_a").as("id")))
      .unionByName(newPairs.select(col("id_b").as("id")))
      .distinct()
    allIds.join(merged.withColumnRenamed("cluster", "__new"), Seq("id"), "left")
      .join(catalog.withColumnRenamed("cluster", "__old"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("__old"), col("id")).as("cluster"))
  }

  /** Soft deduplication: instead of DROPPING near-duplicates, keep
    * every document and weight it by 1/|cluster| — duplicated content
    * no longer counts |cluster| times in training mixes, but rare
    * phrasings inside a cluster are not lost (the soft-dedup /
    * repetition-discounting alternative to hard removal; a sampler
    * consumes `weight_ppm` directly). Weights are exact integer ppm
    * (`1e6 div size`, truncating — engine-replayable); documents in no
    * duplicate pair are singletons at weight 1e6. Cost: the
    * [[resolveClusters]] label relation + one size aggregation + one
    * ids-only join — the corpus text never moves.
    */
  def softDedupWeights(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id"): DataFrame = {
    val clusters = resolveClusters(pairs)
    val sized = clusters.join(
      clusters.groupBy("cluster").agg(count(lit(1)).as("cl_size")), "cluster")
      .select(col("id").as(idCol), col("cl_size"))
    docs.join(sized, Seq(idCol), "left")
      .withColumn("cl_size", coalesce(col("cl_size"), lit(1L)))
      .withColumn("weight_ppm", expr("1000000 div cl_size"))
  }

  /** Quality-aware cluster canonicalization: instead of the min-id
    * representative [[dropNearDuplicates]] keeps, pick each duplicate
    * cluster's BEST member by a quality column (ties → min id). This is
    * the production dedup policy — near-dup clusters mix truncated,
    * boilerplate-wrapped, and clean copies of a page, and keeping an
    * arbitrary one throws quality away (CCNet/RefinedWeb keep longest or
    * highest-scoring).
    *
    * Scale posture: only (id, quality) rides into the cluster shuffle —
    * the corpus text never moves. One groupBy(cluster) argmax via a
    * struct-max (quality desc, id asc through sign flip), then the tiny
    * (cluster, members, canonical) relation joins back wherever needed.
    * Output: one row per multi-member cluster —
    * (cluster, n_members, canonical_id, canonical_quality,
    * dropped_id_sum), exact integers only.
    */
  def canonicalPerCluster(docs: DataFrame, pairs: DataFrame,
                          qualityCol: String,
                          idCol: String = "doc_id"): DataFrame = {
    val labels = resolveClusters(pairs) // (id, cluster) — paired docs only
    val members = labels.join(
      docs.select(col(idCol).cast("long").as("id"),
        col(qualityCol).cast("long").as("quality")),
      Seq("id"))
    members.groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("quality"), (-col("id")).as("neg_id"))).as("best"),
        sum(col("id")).as("id_sum"))
      .select(col("cluster"), col("n_members"),
        (-col("best.neg_id")).as("canonical_id"),
        col("best.quality").as("canonical_quality"),
        (col("id_sum") + col("best.neg_id")).as("dropped_id_sum"))
  }

  /** Snapshot diff between two corpus versions — the audit step before
    * shipping an updated training set: which documents were added,
    * removed, changed (normalized-content fingerprint differs), or
    * carried over unchanged. Whitespace-only edits compare as unchanged
    * because [[graft.functions.TextFunctions.doc_fingerprint]] collapses
    * runs — the same normalization exact dedup keys on, so diff and
    * dedup agree on what "same document" means.
    *
    * Scale: both snapshots reduce to (id, 32-byte fingerprint) before
    * the one full-outer id join — document text never shuffles.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).cast("long").as("id"),
      doc_fingerprint(col(textCol)).as("fp_old"))
    val n = newDocs.select(col(idCol).cast("long").as("id"),
      doc_fingerprint(col(textCol)).as("fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select("id", "status")
  }

  /** Per-doc sketch catalog row: (id, fingerprint, mh) — what a corpus
    * persists (via [[graft.store.SketchStore]]) so later batches dedup
    * against it without rescanning the corpus.
    */
  def sketchCatalog(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", shingleSize: Int = 3): DataFrame =
    graft.sources.Lake.balance(docs).select(col(idCol).as("id"),
      doc_fingerprint(col(textCol)).as("fingerprint"),
      minhash_set(word_shingles(col(textCol), shingleSize)).as("mh"))

  /** Incremental dedup — flag a NEW batch against an existing
    * [[sketchCatalog]] without touching corpus text: the production
    * shape for a growing 100 TB corpus, where re-running the full
    * pairwise dedup per crawl drop is off the table. Only the new batch
    * is sketched; the catalog side already is.
    *
    * Output: one row per new doc — (id, exact_dup_of, near_dup_of,
    * jaccard). `exact_dup_of` = minimum catalog id sharing the
    * normalized-text fingerprint; `near_dup_of` = best banded MinHash
    * match with estimated jaccard ≥ threshold (max jaccard, min id on
    * ties); null where nothing matches.
    *
    * Scale shape: exact pass is an equi-join on the fingerprint; near
    * pass shuffles (id, band-key) rows only — candidates are pairs that
    * collide in a band, never new × catalog.
    */
  def incrementalDedupReport(newDocs: DataFrame, catalog: DataFrame,
                             threshold: Double = 0.8, bands: Int = 20,
                             idCol: String = "doc_id", textCol: String = "text",
                             shingleSize: Int = 3): DataFrame = {
    val newSk = sketchCatalog(newDocs, idCol, textCol, shingleSize).persist()
    val exact = newSk.join(
        catalog.select(col("fingerprint"), col("id").as("cat_id")), "fingerprint")
      .groupBy("id").agg(min(col("cat_id")).as("exact_dup_of"))
    def bandSide(sk: DataFrame, out: String) = sk.select(col("id").as(out),
      explode(minhash_bands(col("mh"), bands)).as("band"))
    val cand = bandSide(newSk, "id").join(bandSide(catalog, "cat_id"), "band")
      .select("id", "cat_id").distinct()
    val verified = cand
      .join(newSk.select(col("id"), col("mh")), "id")
      .join(catalog.select(col("id").as("cat_id"), col("mh").as("mh_c")), "cat_id")
      .withColumn("jaccard", minhash_jaccard(col("mh"), col("mh_c")))
      .filter(col("jaccard") >= threshold)
    val w = Window.partitionBy("id").orderBy(col("jaccard").desc, col("cat_id"))
    val best = verified.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("cat_id").as("near_dup_of"), col("jaccard"))
    newSk.select("id")
      .join(exact, Seq("id"), "left")
      .join(best, Seq("id"), "left")
  }

  /** Line-level corpus dedup (CCNet's public recipe: drop lines that
    * repeat across the corpus — boilerplate, navigation chrome, headers —
    * and keep each document's residue in original order). A line is
    * duplicated when its normalized form (lowercased, trimmed) appears in
    * more than `maxDocsPerLine` distinct documents; the FIRST document
    * (minimum id) keeps its copy, later documents lose theirs.
    *
    * Output: (id, n_lines, n_kept, text) with `text` the surviving lines
    * re-joined by `\n` in original position order. Documents whose every
    * line is dropped still appear, with empty text.
    *
    * Scale shape: one explode to (id, pos, line), one groupBy on the
    * normalized line (the corpus-wide count — shuffles line-sized rows
    * once), a join back on the line key, then one per-doc groupBy to
    * reassemble. Nothing is quadratic; the heavy shuffle carries each
    * distinct line once.
    */
  def lineDedup(docs: DataFrame, maxDocsPerLine: Int = 1,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("key", lower(trim(col("line"))))
    // corpus-wide: how many distinct docs carry each normalized line, and
    // which doc owns the canonical (kept) copy
    val keyStats = lines.groupBy("key")
      .agg(countDistinct(col("id")).as("n_docs"), min(col("id")).as("first_id"))
    val kept = lines.join(keyStats, "key")
      .filter(col("n_docs") <= maxDocsPerLine || col("id") === col("first_id"))
    val perDoc = docs.select(col(idCol).as("id"),
      size(split(col(textCol), "\n")).as("n_lines"))
    perDoc.join(
        kept.groupBy("id").agg(
          count(lit(1)).as("n_kept"),
          array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s("line")), "\n").as("text")),
        Seq("id"), "left")
      .na.fill(0L, Seq("n_kept")).na.fill("", Seq("text"))
  }

  /** LSH quality audit: precision/recall of [[minhashNearDups]]' banded
    * MinHash pairs against [[exactJaccardSelfJoin]]'s exact-recall truth
    * at the SAME threshold and shingle size — the engine measuring its
    * own approximation before anyone trusts it on a corpus. Run it on a
    * bounded sample (both sides see identical docs): exact all-pairs
    * truth at a permissive threshold is quadratic, which is exactly why
    * the audit exists — and why production uses the LSH path it audits.
    * Output: one row (n_pred, n_true, n_hit, prec, recall, f1).
    */
  def lshQualityReport(docs: DataFrame, threshold: Double,
                       shingleSize: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // pinned to the historical 20×5 plan: the audit's oracle replays a
    // fixed banding; auditing the auto plan = pass planBands' choice here
    val pred = minhashNearDups(docs, threshold, idCol, textCol, shingleSize,
      bands = 20).select("id_a", "id_b")
    val truth = exactJaccardSelfJoin(docs, threshold, shingleSize, idCol, textCol)
      .select("id_a", "id_b")
    val hit = pred.join(truth, Seq("id_a", "id_b"), "left_semi")
    pred.agg(count(lit(1)).as("n_pred"))
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_pred"), col("n_true"), col("n_hit"),
        when(col("n_pred") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_pred").cast("double"), 6)).as("prec"),
        when(col("n_true") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_true").cast("double"), 6)).as("recall"),
        when(col("n_pred") + col("n_true") === 0, lit(0.0))
          .otherwise(round(lit(2.0) * col("n_hit").cast("double") /
            (col("n_pred") + col("n_true")).cast("double"), 6)).as("f1"))
  }

  /** LSH banding PLANNER — the s-curve tuning table consulted BEFORE a
    * 100 TB near-dup pass, when (bands, rowsPerBand) must be fixed and a
    * wrong pick either floods the band shuffle with false candidates
    * (threshold* too low) or silently misses true near-dups (too high).
    *
    * For every way to split `nHashes` MinHash components into b bands of
    * r rows (b·r = nHashes), emits the standard banding analysis (Mining
    * of Massive Datasets §3.4.3, public): `threshold_star` = (1/b)^(1/r),
    * the similarity where candidate probability crosses ~1/2, and — per
    * `simGrid` point s — `p_candidate` = 1 − (1 − s^r)^b, the chance a
    * pair at Jaccard s shares ≥1 band. Pick the row whose threshold_star
    * brackets the dedup threshold and whose p@low-sim bounds shuffle
    * inflation.
    *
    * Pure closed-form math over a divisors×grid local relation (≤ a few
    * hundred rows) — no data scanned; codegen'd `pow`, 6-dp rounding for
    * cross-engine replay.
    */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, nHashes: Int = 128,
                  simGrid: Seq[Int] = (1 to 19).map(_ * 5)): DataFrame = {
    require(nHashes > 0, "nHashes must be positive")
    val divisors = (1 to nHashes).filter(nHashes % _ == 0)
    val plans = spark.createDataFrame(divisors.map(b => (b, nHashes / b)))
      .toDF("bands", "rows_per_band")
    val grid = spark.createDataFrame(simGrid.map(Tuple1(_))).toDF("sim_pct")
    plans.crossJoin(grid)
      .select(col("bands").cast("long").as("bands"),
        col("rows_per_band").cast("long").as("rows_per_band"),
        round(pow(lit(1.0) / col("bands"),
          lit(1.0) / col("rows_per_band")), 6).as("threshold_star"),
        col("sim_pct").cast("long").as("sim_pct"),
        round(lit(1.0) - pow(lit(1.0) -
            pow(col("sim_pct").cast("double") / lit(100.0), col("rows_per_band")),
          col("bands")), 6).as("p_candidate"))
  }
}
