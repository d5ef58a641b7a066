package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.profile.Profiler
import graft.search.Discovery
import graft.operators.{Ann, Dedup, Importance, TextAnalysis}
import graft.functions.SketchFunctions._
import graft.functions.TextFunctions._
import graft.functions.DateFunctions._

/** Driver contract — one `queries` entry per implemented operator family
  * from SURVEY.md §2, with a DuckDB-equivalent oracle where the operator is
  * SQL-expressible. Column names/aliases match the oracle exactly (the
  * driver sorts columns by name before hashing).
  *
  * Float discipline for cross-engine hash parity: money sums go through
  * exact DECIMAL(18,2) arithmetic then cast to double; order-dependent
  * double aggregates (avg/stddev/sum of products) are rounded to 6 dp on
  * BOTH sides.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Lake.read(s, dir, name)

  /** Sketch-catalog cache: the reference materializes sketches once and
    * reuses them across every downstream task (`data_prep.py:150-163`,
    * SURVEY §4 "sketch materialization"); the Spark analogue is one
    * catalog per lake — profiles and [[SnapshotTables]] snapshots —
    * shared by all sketch queries.
    */
  private val lakeBuilds =
    scala.collection.concurrent.TrieMap.empty[String, (DataFrame, DataFrame)]

  // keyed by session too: a cached plan is bound to the session that built
  // it and must not leak into a successor session in the same JVM.
  // localCheckpoint (not persist): the profile pipeline's logical plan is
  // enormous, and every downstream query referencing a persisted catalog
  // re-pays its analysis/optimization on the DRIVER (~3 s per query here);
  // checkpointing truncates lineage so consumers plan against a flat
  // LogicalRDD. On a real cluster the durable equivalent is the
  // SketchStore parquet catalog (s7s8 round-trip) — same effect, reliable.
  // One `SketchBuild.build` (one decode, one keyed aggregate subtree,
  // planning cost constant in table count) serves both catalogs — every
  // sketch query downstream therefore hash-verifies the catalog build
  // end-to-end. The per-table loop (`Profiler.profileLake`) remains the
  // spec-pinned double-check.
  private def lakeBuild(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    lakeBuilds.getOrElseUpdate(s"${System.identityHashCode(s)}#$dir", {
      val catalog = graft.cli.SketchBuild.build(s, dir)
      try (catalog.profiles.localCheckpoint(eager = true),
        catalog.snapshots.filter(col("table_name").isin(SnapshotTables: _*))
          .localCheckpoint(eager = true))
      finally catalog.release()
    })

  private def lakeCatalog(s: SparkSession, dir: String): DataFrame = lakeBuild(s, dir)._1

  private def lakeSnapshots(s: SparkSession, dir: String): DataFrame = lakeBuild(s, dir)._2

  val LakeTables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Snapshot scope: tables whose row-string rendering is identical across
    * engines. `events` (sub-second timestamp rendering) and `embeddings`
    * (float-array rendering) are excluded so the A13 oracle can recompute
    * the snapshots exactly; both still flow through the profile catalog.
    */
  val SnapshotTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents")

  /** Relational lake used by the exact-search oracle (SQL stays bounded). */
  private val SearchLake = Seq("customer", "nation", "orders", "part", "region", "supplier")

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Flagship query on sf=0.001: top-k unionable tables for `supplier`
    * over the whole lake, sketch-only mode (E4/minimum slice, SURVEY §7).
    */
  def entry(spark: SparkSession): DataFrame =
    Discovery.searchUnionable(
      lakeCatalog(spark, "/root/testdata/sf0.001"), "supplier", k = 10)

  // ---------- query implementations ----------

  /** Exact (order-independent) mean/std from the profiler's decimal sums:
    * mean = Σx/n, var = Σx²/n − mean², all from exact decimal Σ cast to
    * double — bit-identical across engines, no rounding races.
    */
  private def exactMean: Column =
    col("sum_dec").cast("double") / (col("rows") - col("num_nan"))
  private def exactStd: Column =
    sqrt(greatest(
      col("sum_sq_dec").cast("double") / (col("rows") - col("num_nan")) - exactMean * exactMean,
      lit(0.0)))

  private val lineitemNumeric = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  private def numericProfile(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(t(s, dir, "lineitem").select(lineitemNumeric.map(col): _*),
      "lineitem", withSketches = false, withQuantiles = false)
      .filter(col("col_type").isin("integer", "float"))
      .select(col("col_name"), col("rows").as("n_rows"), col("num_nan"),
        col("unique").as("n_unique"),
        exactMean.as("mean_r"), round(exactStd, 6).as("std_r"),
        col("min_v"), col("max_v"))
      .orderBy("col_name")

  private def quantileProfile(s: SparkSession, dir: String): DataFrame = {
    val p = Profiler.profile(t(s, dir, "lineitem").select(lineitemNumeric.map(col): _*),
      "lineitem", withSketches = false)
      .filter(col("col_type").isin("integer", "float"))
    val qCols = (1 to 9).map(i =>
      round(element_at(col("quantile"), i), 6).as(s"q$i")) ++
      Seq(exactMean.as("mean_q"),
        when(col("unique") > 2, round(exactStd, 6)).otherwise(lit(0.0)).as("std_q"),
        element_at(col("quantile"), 12).as("min_q"),
        element_at(col("quantile"), 13).as("max_q"))
    p.select(col("col_name") +: qCols: _*).orderBy("col_name")
  }

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1995-03-15"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1995-03-15"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  private def starJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy("r_name")

  private def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }

  private def runningAgg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem").filter(col("l_suppkey") <= 20)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(dec(col("l_quantity"))).over(w).cast("double").as("running_qty"))
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  /** §2.8 time-RANGE sliding window: per user, events and decimal-exact
    * value sum over the trailing hour (RANGE frame on epoch seconds —
    * peers by time value, not row position).
    */
  private def rangeWindowQ(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events").filter(col("user_id") < 20)
      .withColumn("epoch_s", unix_timestamp(col("ts")))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_last_hour"),
        sum(dec(col("value"))).over(w).cast("double").as("v_last_hour"))
      .orderBy("user_id", "event_id")
  }

  private def setOps(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_nationkey").cast("int").as("k")).distinct()
    val su = t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("k")).distinct()
    val mk = (op: String, df: DataFrame) =>
      df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
    mk("except", c.except(su))
      .unionByName(mk("intersect", c.intersect(su)))
      .unionByName(mk("union", c.union(su).distinct()))
      .orderBy("op")
  }

  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    def setOf(tbl: String, c: String) =
      t(s, dir, tbl).select(col(c).cast("string").as("v")).filter(col("v").isNotNull).distinct()
    val pairs = Seq(
      ("c_nationkey~s_nationkey", setOf("customer", "c_nationkey"), setOf("supplier", "s_nationkey")),
      ("o_custkey~c_custkey", setOf("orders", "o_custkey"), setOf("customer", "c_custkey")),
      ("l_partkey~p_partkey", setOf("lineitem", "l_partkey"), setOf("part", "p_partkey")))
    pairs.map { case (label, a, b) =>
      val na = a.agg(count(lit(1)).as("n_a"))
      val nb = b.agg(count(lit(1)).as("n_b"))
      val ni = a.join(b, "v").agg(count(lit(1)).as("n_i"))
      na.crossJoin(nb).crossJoin(ni)
        .select(lit(label).as("pair"),
          round(col("n_i") / (col("n_a") + col("n_b") - col("n_i")), 6).as("jaccard"),
          round(col("n_i") / col("n_a"), 6).as("containment"))
    }.reduce(_ unionByName _).orderBy("pair")
  }

  private def lenientDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"),
        lenient_date_parse(date_format(col("o_orderdate"), "MM/dd/yyyy")).as("parsed"))
      .orderBy("o_orderkey")

  private def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  private def hourlyEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("value_sum"))
      .orderBy("event_type", "h")

  private def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("new_sess")).as("n_sessions"))
      .orderBy("user_id")
  }

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

  /** Bigram-LM quality scores (perplexity-style filtering): the corpus
    * is its own training set, the standard self-scoring setup. */
  private def lmQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.bigramLogProb(docs, docs).orderBy("doc_id")
  }

  /** Clustering-agreement scorecard
    * ([[graft.search.Evaluation.clusterAgreement]]): the trained k-means
    * cells (`ann_kmeans_ivf`'s Lloyd's, 8 cells × 3 iters) graded
    * against the embeddings table's ground-truth labels — exact-pair
    * ARI + micro-nat NMI in one row. */
  private def clusterAgreementQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.search.Evaluation.clusterAgreement(
      graft.operators.Ann.cellAssignments(embs, k = 8, iters = 3)
        .select(col("vec_id"), col("cell").as("ca")),
      embs.select(col("vec_id"), col("label").cast("long").as("cb")),
      idCol = "vec_id")
  }

  /** Kneser-Ney bigram quality scores
    * ([[graft.operators.TextAnalysis.knBigramLogProb]]): the KenLM/CCNet
    * smoothing next to `t_lm_quality`'s add-1 baseline, on the same
    * self-scoring setup. */
  private def knQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.knBigramLogProb(docs, docs).orderBy("doc_id")
  }

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

  /** Min-K% probability contamination screen
    * ([[graft.operators.TextAnalysis.minKProb]], Shi et al. 2023):
    * per-doc mean log-prob of the lowest-20% bigrams under the
    * `t_lm_quality` LM — the membership-inference detector a pipeline
    * runs for benchmark leakage the n-gram decontam misses. */
  private def minKProbQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    TextAnalysis.minKProb(docs, docs, kPct = 20).orderBy("doc_id")
  }

  /** BM25 keyword search over documents — the text-search modality next
    * to sketch and embedding search. Mixed-selectivity query: 'dup' is
    * rare (high idf), the others common. */
  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.bm25TopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  /** Dirichlet query-likelihood retrieval
    * ([[graft.search.TextSearch.dirichletQlTopK]]): the LM retrieval
    * family beside BM25, same terms, μ=2000. */
  private def qlSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.dirichletQlTopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  /** Rank-biased overlap between the plain BM25 top-15 and the PRF
    * rerank ([[graft.search.Evaluation.rankBiasedOverlap]], p=0.9) —
    * "how much did feedback move the ranking". */
  private def rboQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val terms = Seq("dup", "vector", "join", "window")
    graft.search.Evaluation.rankBiasedOverlap(
      graft.search.TextSearch.bm25TopK(docs, terms, 15),
      graft.search.TextSearch.bm25PrfTopK(docs, terms, k = 15), k = 15)
  }

  /** PRF expansion terms for the t_bm25_search query
    * ([[graft.search.TextSearch.prfExpansionTerms]]): top-5 terms of
    * the top-10 pseudo-relevant docs by idf·count micro weight. */
  private def prfTermsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.prfExpansionTerms(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"))
      .orderBy(col("wgt_micro").desc, col("term"))

  /** BM25 + PRF reranked search
    * ([[graft.search.TextSearch.bm25PrfTopK]]): original terms at full
    * weight, expansion terms at half, exact-integer micro mixing. */
  private def prfSearchQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.bm25PrfTopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 15)
      .orderBy("rank")

  private def tokenFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

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

  private def exactDup(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicates(t(s, dir, "documents"))
      .select(col("fingerprint"), col("n_dups"), col("keeper"))
      .orderBy("fingerprint")

  private def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 25)
    val ids = docs.select(col("doc_id").as("id"))
    val pairs = ids.as("a").join(ids.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    Dedup.ngramJaccardPairs(docs, pairs, n = 2)
      .filter(col("jaccard") > 0)
      .orderBy("id_a", "id_b")
  }

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

  /** Weighted near-dup join at scale shape
    * ([[Dedup.icwsNearDups]]): ICWS signatures over word 3-shingle
    * tf·idf features banded 8×4 over the whole corpus,
    * bucket-collision candidates verified against the
    * exact weighted Jaccard at τ=0.7 — every emitted pair is a
    * true weighted near-dup; recall follows the banded S-curve. */
  private def icwsNearDupsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.icwsNearDups(t(s, dir, "documents"), threshold = 0.7)
      .orderBy("id_a", "id_b")

  /** Representation-drift scorecard ([[graft.operators.Ann.linearCka]]):
    * CKA of the embedding table against its int8-quantized view and its
    * 16-dim MRL truncation — "does the cheaper representation preserve
    * the geometry" in one scalar per variant. */
  private def embCkaQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val int8 = embs.withColumn("embedding", expr(
      "transform(embedding, x -> round(cast(x as double) * 127.0, 0) / 127.0)"))
    val trunc = embs.withColumn("embedding", expr("slice(embedding, 1, 16)"))
    graft.operators.Ann.linearCka(embs, int8).withColumn("variant", lit("int8"))
      .unionByName(graft.operators.Ann.linearCka(embs, trunc)
        .withColumn("variant", lit("trunc16")))
      .select("variant", "n_vecs", "dx", "dy", "cka")
      .orderBy("variant")
  }

  /** Consistent-hash shard plan ([[graft.operators.Sharding]], 8 shards
    * × 16 vnodes over document ids): per-shard population + exact id
    * checksums — the stable-re-sharding layout primitive next to
    * `x_compaction_plan`. */
  private def shardPlanQ(s: SparkSession, dir: String): DataFrame = {
    val ring = graft.operators.Sharding.ring(s, nShards = 8, vnodesPerShard = 16)
    graft.operators.Sharding.assign(
        t(s, dir, "documents").select("doc_id"), "doc_id", ring)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("shard")
  }

  private def embStats(s: SparkSession, dir: String): DataFrame = {
    val nrm = sqrt(Ann.dot(col("embedding"), col("embedding")))
    t(s, dir, "embeddings")
      .select(col("label"), nrm.as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")), 5).as("avg_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"))
      .orderBy("label")
  }

  private def annTopK(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Retrieval-training hard negatives: per query, top-3 corpus vectors
    * inside the [0.10, 0.30) cosine band — similar enough to be hard,
    * below the near-dup band where they would be false negatives. */
  private def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.hardNegatives(embs, embs.filter(col("vec_id") <= 10), k = 3,
        tauLo = 0.10, tauHi = 0.30)
      .orderBy("query_id", "rank")
  }

  /** Q2/Q3 memory-bound scale path: int8 scalar-quantized top-k — 4×
    * smaller resident corpus, exact-integer dots (DuckDB replays the
    * quantization + ranking bit-for-bit). */
  private def annQuantized(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.quantizedTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Q2/Q3 two-stage retrieval: quantized prefilter (top-20 candidates)
    * → full-precision exact-cosine rerank to top-5. */
  private def annRerank(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.rerankTopK(embs, embs.filter(col("vec_id") <= 10), k = 5, oversample = 4)
      .orderBy("query_id", "rank")
  }

  /** Q2/Q3 scale path: IVF-bucketed top-k — integer-exact hyperplane
    * buckets (DuckDB recomputes signatures bit-for-bit), search confined
    * to the query's cell. */
  private def annIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.bucketedTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Session-cached DISTINCT (table_name, col_idx, value_str) value index
    * over the exact-search lake — the materialize-once analogue of
    * [[lakeCatalog]] for the value-level (non-sketch) search path. Every
    * exact-search query shares it instead of re-exploding and
    * re-distincting the lake; on a real cluster it would persist next to
    * the SketchStore catalog, bucketed by value_str.
    */
  private val valueIndexes =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def searchValueIndex(s: SparkSession, dir: String): DataFrame =
    valueIndexes.getOrElseUpdate(s"${System.identityHashCode(s)}#$dir#values",
      SearchLake.map { name =>
        Profiler.longFormat(t(s, dir, name)).withColumn("table_name", lit(name))
      }.reduce(_ unionByName _)
        .filter(col("value_str").isNotNull)
        .select(col("table_name"), col("col_idx"), col("value_str")).distinct()
        .localCheckpoint(eager = true))

  private def searchExact(s: SparkSession, dir: String): DataFrame =
    Discovery.columnVoteRank(
      Discovery.columnDistancesExact(searchValueIndex(s, dir), "supplier",
        valuesDistinct = true), k = 10)

  // ---- sketch-pipeline operators ----
  // The MD5-derived base hash (MinHash.md5Low32 == DuckDB md5_number_lower)
  // makes every digest below recomputable by the DuckDB oracle, so the
  // whole sketch pipeline is hash-verified, not rows-only.

  /** A1–A3, A11, A12: per-column stats + exact/word MinHash digests.
    * Digests travel as comma-joined strings (deterministic, and the
    * driver's pandas row-sort chokes on raw array columns).
    */
  private def profileSketches(s: SparkSession, dir: String): DataFrame =
    lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "nation", "region", "part"))
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        array_join(col("minhash_words"), ",").as("mh_words"))
      .orderBy("table_name", "col_idx")

  /** E1 at lake scale: the UNIFIED single-job profiler across ALL TEN
    * driver tables — every type the decoder supports (ints, doubles,
    * strings, ms/ns timestamps, float-list embeddings) flows through one
    * scan + one keyed aggregate and lands on DuckDB-recomputed stats.
    * Digest parity for the same catalog is covered by `profile_sketches`
    * (render-sensitive tables excluded there); this row pins the stats,
    * which only need render INJECTIVITY, across the full type surface.
    */
  private def lakeProfileUnifiedQ(s: SparkSession, dir: String): DataFrame =
    statsSummary(lakeCatalog(s, dir))

  /** The oracle-facing stats projection of a profile catalog (shared by
    * the parquet- and CSV-lake unified rows). */
  private def statsSummary(prof: DataFrame): DataFrame =
    prof.select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        round(col("min_v"), 6).as("min_r"), round(col("max_v"), 6).as("max_r"))
      .orderBy("table_name", "col_idx")

  /** E1's CSV arm end-to-end: a deterministic CSV micro-lake — typed
    * columns (int/long/double/bool/date/timestamp/string), a
    * date-promoted yyyy/MM/dd column, a semicolon-sniffed file, a gzip
    * file, a messy quoted header with a row_index column, a decimal file
    * the strict in-task decoder REJECTS to the driver chain, and a
    * <5-row file P4 skips — built by `SketchBuild.build`: `CsvScan`'s
    * single-job binaryFile scan, fallback files read via `RobustCsv`,
    * every table profiled through the one keyed aggregate. The oracle
    * re-reads the same CSVs with pinned types and recomputes every stat,
    * so sniffing, tokenization, inference replay, promotion, and the
    * reject routing are all DuckDB-cross-checked. */
  private def lakeCsvUnifiedQ(s: SparkSession, dir: String): DataFrame = {
    val d = java.nio.file.Paths.get("/tmp/graft_fixtures/csv_lake")
    java.nio.file.Files.createDirectories(d)
    def w(name: String, content: String): Unit =
      java.nio.file.Files.write(d.resolve(name), content.getBytes("UTF-8"))
    w("alpha.csv",
      "id,amount,big,flag,day,seen,note,when\n" +
      "1,1.5,3000000000,true,2021-01-15,2021-01-15 10:30:00,hello,2021/01/15\n" +
      "2,2.5,4000000000,false,2021-02-20,2021-02-20 11:45:30.123,\"with,comma\",2021/02/20\n" +
      "3,3.75,5000000000,True,2021-03-25,2021-03-25T12:00:00,,2021/03/25\n" +
      "4,4.0,6000000000,false,,2021-04-01 09:15,world,2021/04/30\n" +
      "5,500.0,7000000000,true,2021-05-05,2021-05-05 00:00:00,x y,2021/05/31\n" +
      "6,6.25,8000000000,false,2021-06-15,2021-06-15 23:59:59,zz,2021/06/01\n")
    w("beta.csv",
      "k;v;w\n1;one;0.5\n2;two;1.5\n3;three;2.5\n4;four;3.5\n5;five;4.5\n")
    locally {
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(d.resolve("gamma.csv.gz")))
      out.write("x,y\n10,a\n20,b\n30,c\n40,d\n50,e\n".getBytes("UTF-8"))
      out.close()
    }
    w("rowidx.csv",
      "row_index,\" Name \",\"V,al\"\n0,aa,1\n1,bb,2\n2,cc,3\n3,dd,4\n4,ee,5\n")
    w("dec.csv",
      "id,huge\n1,12345678901234567890123\n2,22345678901234567890123\n" +
      "3,3234567890123456789\n4,1\n5,2\n")
    w("tiny.csv", "a,b\n1,x\n2,y\n3,z\n")
    // the summary is a few dozen rows: hold them on the driver, so the
    // build's persisted decode and fallback frames can be released here
    // and nothing of the run stays cached in the session
    val catalog = graft.cli.SketchBuild.build(s, d.toString)
    try {
      val summary = statsSummary(catalog.profiles)
      s.createDataFrame(java.util.Arrays.asList(summary.collect(): _*), summary.schema)
    } finally catalog.release()
  }

  /** Q7 end-to-end through the REAL ONNX artifact: deterministic feature
    * rows → MLlib logistic fit → `OnnxExport.exportLogistic` (public
    * wire-format ModelProto) → per-partition `OnnxSession` scoring via
    * the external-scorer seam. The trained head is ALSO exported as the
    * JSON linear artifact, which the oracle reads to recompute
    * sigmoid(coef·x + b) over the same feature formulas — so the train →
    * export → parse → execute loop is hash-verified, not spec-only
    * (reference: `tabsketchfm_finetune.py:64-117`). */
  private def q7OnnxScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = (1 to 40).map { i =>
      val (x1, x2, x3) = ((i % 7) * 0.5 - 1.5, (i % 5) * 0.25, (i % 3) * 1.0 - 1.0)
      (i.toLong, x1, x2, x3, if (x1 + 2 * x2 - x3 > 0) 1.0 else 0.0)
    }.toDF("id", "x1", "x2", "x3", "label")
    val asm = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1", "x2", "x3")).setOutputCol("features")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(50).setRegParam(0.1)
    val model = new org.apache.spark.ml.Pipeline()
      .setStages(Array(asm, lr)).fit(feats)
    val onnxPath = "/tmp/graft_fixtures/q7_head.onnx"
    val jsonPath = "/tmp/graft_fixtures/q7_head.json"
    graft.ml.OnnxExport.exportLogistic(model, onnxPath)
    graft.ml.Scorer.exportLinearModel(model, jsonPath) // oracle's copy
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(onnxPath), Seq("x1", "x2", "x3"))
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** E4 with a REAL (toy-sized) transformer: a 1-layer 2-head encoder —
    * per-head scaled-dot attention with Softmax, residual + LayerNorm,
    * Sigmoid FFN, mean-pool, sigmoid head — exported as an ONNX graph
    * ([[graft.ml.OnnxExport.exportMiniEncoder]]) and executed DISTRIBUTED
    * by the pure-JVM [[graft.ml.OnnxSession]] through the same
    * per-partition/batched `ExternalModelScorer` seam a JNI onnxruntime
    * would use. Weights and inputs come from `OracleSql`'s closed-form
    * exact-binary-fraction formulas; the oracle replays the whole forward
    * pass as unrolled SQL in the session kernels' summation orders
    * (reference: `transformer_bert.py:88-224`, `extract_embeddings.py:
    * 16-117` — checkpoint-driven encoder inference in the engine). */
  /** One fixture encoder layer from `OracleSql`'s layer-indexed
    * closed-form formulas (layer 0 == the original 1-layer fixture). */
  private def teLayer(l: Int): graft.ml.OnnxExport.EncoderLayer = {
    val (d, h, f) = (OracleSql.TeD, OracleSql.TeH, OracleSql.TeF)
    val dh = d / h
    graft.ml.OnnxExport.EncoderLayer(
      wq = Array.tabulate(h, d, dh)(OracleSql.teWqL(l, _, _, _)),
      wk = Array.tabulate(h, d, dh)(OracleSql.teWkL(l, _, _, _)),
      wv = Array.tabulate(h, d, dh)(OracleSql.teWvL(l, _, _, _)),
      wo = Array.tabulate(d, d)(OracleSql.teWoL(l, _, _)),
      bo = Array.tabulate(d)(OracleSql.teBoL(l, _)),
      g1 = Array.tabulate(d)(OracleSql.teG1L(l, _)),
      b1 = Array.tabulate(d)(OracleSql.teB1L(l, _)),
      w1 = Array.tabulate(d, f)(OracleSql.teW1L(l, _, _)),
      bf1 = Array.tabulate(f)(OracleSql.teBf1L(l, _)),
      w2 = Array.tabulate(f, d)(OracleSql.teW2L(l, _, _)),
      bf2 = Array.tabulate(d)(OracleSql.teBf2L(l, _)),
      g2 = Array.tabulate(d)(OracleSql.teG2L(l, _)),
      b2 = Array.tabulate(d)(OracleSql.teB2L(l, _)))
  }

  private def teStack(layers: Int): graft.ml.OnnxExport.EncoderStack =
    graft.ml.OnnxExport.EncoderStack(
      OracleSql.TeS, OracleSql.TeD, OracleSql.TeH, OracleSql.TeF,
      (0 until layers).map(teLayer),
      wHead = Array.tabulate(OracleSql.TeD)(OracleSql.teWh),
      bHead = OracleSql.TeBh,
      attScale = OracleSql.TeScale, lnEps = OracleSql.TeEps)

  /** The realistic-checkpoint fixture (E4 end-to-end): fused-QKV layers
    * from the shared layer-indexed formula family + the 6-way
    * TabularBertEmbeddings tables. Word-embedding rows cover the whole
    * `TbVocabMax` id range regardless of the actual trained vocab size. */
  private[graft] def tbLayer(l: Int): graft.ml.OnnxExport.CheckpointLayer = {
    val (d, f) = (OracleSql.TbD, OracleSql.TbF)
    graft.ml.OnnxExport.CheckpointLayer(
      wqkv = Array.tabulate(d, 3 * d)(OracleSql.tbWqkv(l, _, _)),
      bqkv = Array.tabulate(3 * d)(OracleSql.tbBqkv(l, _)),
      wo = Array.tabulate(d, d)(OracleSql.teWoL(l, _, _)),
      bo = Array.tabulate(d)(OracleSql.teBoL(l, _)),
      g1 = Array.tabulate(d)(OracleSql.teG1L(l, _)),
      b1 = Array.tabulate(d)(OracleSql.teB1L(l, _)),
      w1 = Array.tabulate(d, f)(OracleSql.teW1L(l, _, _)),
      bf1 = Array.tabulate(f)(OracleSql.teBf1L(l, _)),
      w2 = Array.tabulate(f, d)(OracleSql.teW2L(l, _, _)),
      bf2 = Array.tabulate(d)(OracleSql.teBf2L(l, _)),
      g2 = Array.tabulate(d)(OracleSql.teG2L(l, _)),
      b2 = Array.tabulate(d)(OracleSql.teB2L(l, _)))
  }

  private[graft] def tbCheckpoint: graft.ml.OnnxExport.TabularCheckpoint = {
    import OracleSql._
    graft.ml.OnnxExport.TabularCheckpoint(
      TbS, TbD, TbH, TbF, TbM,
      wordEmb = Array.tabulate(TbVocabMax, TbD)((v, dd) => tbWordE(v.toLong, dd)),
      typeEmb = Array.tabulate(TbT, TbD)((t, dd) => tbTypeE(t.toLong, dd)),
      tokposEmb = Array.tabulate(TbP, TbD)(tbTokposE),
      posEmb = Array.tabulate(TbS, TbD)(tbPosE),
      wVal = Array.tabulate(TbD, TbD)(tbWVal),
      bVal = Array.tabulate(TbD)(tbBVal),
      wMin = Array.tabulate(TbM, TbD)(tbWMin),
      bMin = Array.tabulate(TbD)(tbBMin),
      gEmb = Array.tabulate(TbD)(tbGEmb),
      bEmb = Array.tabulate(TbD)(tbBEmb),
      layers = (0 until TbL).map(tbLayer),
      attScale = TbScale, lnEps = TbEps)
  }

  /** The q7 fixture input batch: (id, x_{s}_{d} …) from the shared
    * closed-form formulas. */
  private def teFeats(s: SparkSession): (DataFrame, Seq[String]) = {
    import s.implicits._
    val (sq, d) = (OracleSql.TeS, OracleSql.TeD)
    val featCols = for (si <- 0 until sq; di <- 0 until d) yield s"x_${si}_$di"
    val feats = (1 to OracleSql.TeN).map(_.toLong).toDF("id").select(
      col("id") +: (for (si <- 0 until sq; di <- 0 until d) yield
        (((col("id") * 13 + lit(si * 7 + di * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"x_${si}_$di")): _*)
    (feats, featCols)
  }

  private def q7TransformerScore(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/q7_encoder.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path)
    val (feats, featCols) = teFeats(s)
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols)
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** The Tanh-activation variant (BERT's activation neighborhood): the
    * session executes a real Tanh node — correctly-rounded math.tanh —
    * while the oracle replays it as (exp(2z)−1)/(exp(2z)+1), the only
    * tanh DuckDB 1.0 can express; the ≤1-ulp formula difference sits
    * far inside the 6-dp rounding discipline. */
  private def q7EncoderTanh(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/q7_encoder_tanh.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, activation = "Tanh")
    val (feats, featCols) = teFeats(s)
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols)
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** The GELU variant — BERT's actual activation (`transformer_bert.py`
    * runs the BERT GELU) in the tanh approximation: the exported graph
    * carries the decomposed Mul/Add/Tanh node chain a torch
    * approximate='tanh' export emits (no bespoke Gelu op), the session
    * executes it node by node, and the oracle replays the identical
    * chain with tanh as (exp(2a)−1)/(exp(2a)+1). */
  private def q7EncoderGelu(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/q7_encoder_gelu.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, activation = "Gelu")
    val (feats, featCols) = teFeats(s)
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols)
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** The EXACT-GELU variant: the Div→Erf→Add→Mul→Mul chain a default
    * torch `nn.GELU()` (approximate='none') export writes. The session
    * executes a real Erf node (A&S 7.1.26 polynomial, |err| ≤ 1.5e-7);
    * the oracle replays the identical polynomial in SQL — with the
    * tanh-approx variant above this completes the torch-activation
    * matrix (Sigmoid/Tanh/Relu/tanh-GELU/exact-GELU). */
  private def q7EncoderGeluExact(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/q7_encoder_gelu_exact.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, activation = "GeluErf")
    val (feats, featCols) = teFeats(s)
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols)
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** The DEEP variant: a 3-layer stack of the same encoder block (the
    * reference's BERT is 12 stacked copies of this block) through the
    * same session — the oracle unrolls all three layers in SQL. */
  private def q7EncoderStack(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/q7_encoder_stack.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(3), path)
    val (feats, featCols) = teFeats(s)
    new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols)
      .score(feats)
      .select(col("id"), round(col("score"), 6).as("score_r"))
      .orderBy("id")
  }

  /** Q6 IN-ENGINE value/sentence embeddings (`embedding_search.py:25-42`
    * — the sentence-transformer value-vector path): each document's
    * first 4 tokens hash to ids through the proven-parity md5-low32
    * family, look up a closed-form embedding table, and run through the
    * HEADLESS mini-encoder (attention + LayerNorm + FFN + mean-pool) —
    * a real neural embedding computed distributed by the pure-JVM ONNX
    * session behind the `ExternalEmbedder` seam. The oracle replays
    * tokenization (split + md5_number_lower), the embedding lookup, and
    * the whole encoder as unrolled SQL, then float-narrows exactly like
    * the embedder. */
  private def q6ValueEmbed(s: SparkSession, dir: String): DataFrame = {
    val (sq, d) = (OracleSql.TeS, OracleSql.TeD)
    val path = "/tmp/graft_fixtures/q6_encoder.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, withHead = false)
    val toks = t(s, dir, "documents").filter(col("doc_id") <= 48)
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), v => v =!= "").as("w"))
    val tids = toks.select(col("doc_id") +: (0 until sq).map { si =>
      coalesce(when(size(col("w")) > si,
          graft.functions.SketchFunctions.md5_low32(col("w")(si)) % 64),
        lit(0L)).as(s"tid_$si")
    }: _*)
    val featCols = for (si <- 0 until sq; di <- 0 until d) yield s"x_${si}_$di"
    val feats = tids.select(col("doc_id") +:
      (for (si <- 0 until sq; di <- 0 until d) yield
        (((col(s"tid_$si") * 7 + lit(di * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"x_${si}_$di")): _*)
    new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), featCols, dim = d)
      .score(feats)
      .select(col("doc_id") +: (0 until d).map(di =>
        round(col("embedding")(di).cast("double"), 6).as(s"e${di}_r")): _*)
      .orderBy("doc_id")
  }

  /** Q6 value enrichment over the REAL vocab relation: the distinct
    * value heads (the A16 relation) tokenize through the TRAINED
    * WordPiece vocab and join the checkpoint's word-embedding TABLE —
    * the tokenizer → embedding-table path of `embedding_search.py:
    * 25-42`, fully distributed (explode → broadcast join → masked mean).
    * The table values are multiples of 1/8, so the per-value position
    * sum is exact in double and aggregation-order-independent — the
    * oracle replays it with the same closed-form formula. */
  private def q6VocabEmbed(s: SparkSession, dir: String): DataFrame = {
    import OracleSql._
    import s.implicits._
    val docs = t(s, dir, "documents").filter(col("doc_id") < TbDocs)
      .select(col("doc_id"), substring(col("text"), 1, TbSnip).as("snip"))
    val vocab = graft.ml.WordPiece.buildVocab(
      docs.filter(col("doc_id") <= TbVocabDocs), "snip", maxSize = TbVocabMax)
    def vals(tbl: String, c: String) =
      t(s, dir, tbl).select(col(c).cast("string").as("value_str")).distinct()
        .select(lit(s"$tbl.$c").as("col_ref"), col("value_str"))
    val values = Seq(vals("documents", "lang"), vals("documents", "source"),
      vals("events", "event_type"), vals("orders", "o_orderstatus"),
      vals("orders", "o_orderpriority")).reduce(_ unionByName _)
    val enc = graft.ml.WordPiece.encode(values, "value_str", vocab, maxLen = TbS)
    val embTable = (0L until TbVocabMax.toLong).toDF("tok_id").select(
      col("tok_id") +: (0 until TbD).map(dd =>
        (((col("tok_id") * 7 + lit(dd * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"emb_$dd")): _*)
    val toks = enc.select(col("col_ref"), col("value_str"),
        posexplode(arrays_zip(col("input_ids"), col("attention_mask")))
          .as(Seq("pos", "z")))
      .filter(col("z.attention_mask") === 1)
      .select(col("col_ref"), col("value_str"), col("z.input_ids").as("tok_id"))
    val aggs = (0 until TbD).map(dd =>
      round(sum(col(s"emb_$dd")) / count(lit(1)), 6).as(s"e${dd}_r"))
    toks.join(broadcast(embTable), "tok_id")
      .groupBy("col_ref", "value_str")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("col_ref", "value_str")
  }

  /** E4 END-TO-END — the reference's actual product loop run in-engine:
    * WordPiece ids from the trained vocab RELATION → the 6-way
    * `TabularBertEmbeddings` input sum (word / token-type /
    * token-position / position Gathers + value & minhash Linears +
    * LayerNorm, `transformer_bert.py:24-87`) → a 4-LAYER encoder stack
    * behind a REAL additive attention mask (pad positions vary per doc)
    * → masked mean-pooled float32 embeddings → ranked k-NN cosine
    * search (`extract_embeddings.py:16-117` → `embedding_search.py:
    * 94-190`). The whole forward pass executes through the FLOAT32
    * multi-input checkpoint file ([[graft.ml.OnnxExport
    * .exportTabularCheckpoint]]: Gather/Cast/Split/Slice/Unsqueeze,
    * decomposed LayerNorm) in the pure-JVM session, distributed via the
    * per-partition `ExternalMultiEmbedder` seam. The oracle replays the
    * tokenizer (recursive-CTE WordPiece), the embedding sum, all four
    * layers, the mask, the pool, the float narrowing, and the ranked
    * search as ONE SQL statement. */
  private def e2eEncodeSearch(s: SparkSession, dir: String): DataFrame = {
    import OracleSql._
    val path = "/tmp/graft_fixtures/e2e_checkpoint.onnx"
    graft.ml.OnnxExport.exportTabularCheckpoint(tbCheckpoint, path)
    val docs = t(s, dir, "documents").filter(col("doc_id") < TbDocs)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, TbSnip).as("snip"))
    val vocab = graft.ml.WordPiece.buildVocab(
      docs.filter(col("doc_id") <= TbVocabDocs), "snip", maxSize = TbVocabMax)
    val enc = graft.ml.WordPiece.encode(docs, "snip", vocab, maxLen = TbS)
    val idCols = (0 until TbS).map(i =>
      col("input_ids")(i).cast("double").as(s"id_$i"))
    val tyCols = (0 until TbS).map(i =>
      (ascii(substring(col("lang"), 1, 1)) % TbT).cast("double").as(s"ty_$i"))
    val tpCols = (0 until TbS).map(i => lit((i % TbP).toDouble).as(s"tp_$i"))
    val mkCols = (0 until TbS).map(i =>
      col("attention_mask")(i).cast("double").as(s"mk_$i"))
    val vvCols = for (i <- 0 until TbS; e <- 0 until TbD) yield
      (((col("input_ids")(i) * 5 + lit(e * 3)) % 13).cast("double") * 0.125 - 0.75)
        .as(s"vv_${i}_$e")
    val mhCols = for (i <- 0 until TbS; j <- 0 until TbM) yield
      (((col("input_ids")(i) * 7 + lit(j * 5 + i)) % 11).cast("double") * 0.25 - 1.25)
        .as(s"mh_${i}_$j")
    val feats = enc.select(col("doc_id") +:
      (idCols ++ tyCols ++ tpCols ++ mkCols ++ vvCols ++ mhCols): _*)
    val embedded = new graft.ml.Scorer.ExternalMultiEmbedder(
        graft.ml.Scorer.onnxMultiEmbedderFactory(path),
        Seq(
          "input_ids" -> (0 until TbS).map(i => s"id_$i"),
          "type_ids" -> (0 until TbS).map(i => s"ty_$i"),
          "tokpos_ids" -> (0 until TbS).map(i => s"tp_$i"),
          "attention_mask" -> (0 until TbS).map(i => s"mk_$i"),
          "value_vals" -> (for (i <- 0 until TbS; e <- 0 until TbD) yield s"vv_${i}_$e"),
          "minhash_vals" -> (for (i <- 0 until TbS; j <- 0 until TbM) yield s"mh_${i}_$j")),
        dim = TbD).score(feats)
    // the search tail IS the shared scale-shaped top-k operator
    // (`Ann.bruteForceTopK`: queries broadcast, corpus streams, one
    // rank/tie-break definition for every ANN path) — not an inline pair
    // join; the oracle replays its exact arithmetic (per-vector norms
    // computed once, cosine = dot/(n_a·n_b), zero-norm guard)
    val emb = embedded.select(col("doc_id"), col("embedding"))
    val q = emb.filter(col("doc_id") < TbQueries)
    graft.operators.Ann.bruteForceTopK(emb, q, k = TbTopK,
        idCol = "doc_id", vecCol = "embedding")
      .select(col("query_id"), col("rank").as("rnk"),
        col("neighbor_id").as("doc_id"), col("cosine").as("sim_r"))
      .orderBy("query_id", "rnk")
  }

  /** Q1 embedding extraction through the ONNX linear-map head: literal
    * token-state vectors → `Pooling.meanPool` per column →
    * `ExternalEmbedder` over `OnnxExport.exportLinearMap` weights. All
    * fixture values are exact binary fractions, so the oracle replays
    * pooling + the linear map bit-exactly from the same formulas
    * (reference: `extract_embeddings.py:16-73`). */
  private def q1EmbedExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = for { c <- 1 to 6; t <- 1 to 4 } yield
      (c.toLong, Array.tabulate(3)(sl => ((c * 7 + t * 3 + sl) % 11) * 0.25 - 1.0))
    val pooled = graft.ml.Pooling.meanPool(
        toks.toDF("col_id", "vec"), Seq("col_id"), "vec")
      .select(col("col_id"), col("pooled")(0).as("f0"),
        col("pooled")(1).as("f1"), col("pooled")(2).as("f2"))
    val w = Array.tabulate(3, 2)((i, j) => OracleSql.q1Weight(i, j))
    val b = Array.tabulate(2)(OracleSql.q1Bias)
    val path = "/tmp/graft_fixtures/q1_embed.onnx"
    graft.ml.OnnxExport.exportLinearMap(w, b, Seq("f0", "f1", "f2"), path)
    new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), Seq("f0", "f1", "f2"), dim = 2)
      .score(pooled)
      .select(col("col_id"),
        round(col("embedding")(0).cast("double"), 6).as("e0_r"),
        round(col("embedding")(1).cast("double"), 6).as("e1_r"))
      .orderBy("col_id")
  }

  /** E2E discovery composition guard: lake dir → `SketchBuild.build`
    * (fresh, not the session cache) → SketchStore parquet round-trip →
    * union search. Hash-verifies that the catalog schema, the store
    * layout, and Discovery's expectations stay glued (each piece is
    * separately green; this pins the seams). */
  private def e2eLakeSearch(s: SparkSession, dir: String): DataFrame = {
    val store = "/tmp/graft_fixtures/e2e_store"
    val catalog = graft.cli.SketchBuild.build(s, dir)
    try graft.store.SketchStore.writeParquet(catalog.profiles, store)
    finally catalog.release()
    Discovery.searchUnionable(
      graft.store.SketchStore.readParquet(s, store), "supplier", k = 10)
  }

  /** FULL-FRAME media decode, real for all three codec-free formats:
    * standards-valid PNGs (zlib IDAT, per-row filters cycling all five
    * types), GIFs (real LZW), and baseline JPEGs (Huffman + IDCT;
    * tile-constant rasters survive unit quantization bit-exactly) are
    * written from deterministic pixel formulas, decoded DISTRIBUTED by
    * the pure-JVM codecs, and the oracle recomputes the per-channel
    * means straight from the formulas — so chunk walking, inflate,
    * every PNG filter, LZW, Huffman entropy decode, dequant+IDCT,
    * restart markers, 4:2:0 upsampling, and the JFIF color transform
    * are all hash-verified, not spec-only. */
  private def mmPixelDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = ((1 to 12).map { i =>
      (i.toLong, graft.multimodal.SyntheticMedia.pngFull(
        8 + (i % 5) * 3, 6 + (i % 4) * 2, (i * 17) % 251))
    } ++ (13 to 18).map { i =>
      // GIF leg: real LZW decode + palette resolution (ids 13-18)
      (i.toLong, graft.multimodal.SyntheticMedia.gifFull(
        7 + (i % 4) * 5, 5 + (i % 3) * 4, (i * 29) % 101))
    } ++ (19 to 24).map { i =>
      // grayscale JPEG leg: dims off the 8-grid exercise pad/crop; odd
      // seeds add restart markers (ids 19-24)
      (i.toLong, graft.multimodal.SyntheticMedia.jpegFullGray(
        9 + (i % 5) * 4, 7 + (i % 4) * 3, (i * 31) % 200))
    } ++ (25 to 30).map { i =>
      // 4:2:0 color JPEG leg: neutral chroma → RGB = luma exactly (ids 25-30)
      (i.toLong, graft.multimodal.SyntheticMedia.jpegFullColor(
        14 + (i % 3) * 9, 10 + (i % 2) * 13, (i * 23) % 150))
    }).toDF("media_id", "payload")
    def chMean(n: Int) = when(size(col("channel_means")) >= n,
      round(element_at(col("channel_means"), n), 6))
    graft.multimodal.Multimodal.pixelStats(media)
      .select(col("media_id"),
        col("px_width").cast("long").as("px_width"),
        col("px_height").cast("long").as("px_height"),
        chMean(1).as("mean_r"), chMean(2).as("mean_g"), chMean(3).as("mean_b"))
      .orderBy("media_id")
  }

  /** Perceptual-hash image near-dup: grayscale PNGs from the integer
    * formula `((x*3 + y*7 + seed) % 200) + bright (+40 noise pixel)` —
    * real PNG encode/decode on the engine side, formula replay on the
    * oracle side. Brightness-shifted members hash identically (dHash is
    * gradient-based); the noise member differs in ≤2 bits; distinct
    * seeds land far apart. */
  private def dhashNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def png(w: Int, h: Int, seed: Int, bright: Int, noise: Option[(Int, Int)]) =
      graft.multimodal.SyntheticMedia.pngOf(w, h, 1, Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        (((x * 3 + y * 7 + seed) % 200) + bright +
          (if (noise.contains((x, y))) 40 else 0)).toByte
      })
    val media = Seq(
      (100L, png(18, 12, 5, 0, None)),
      (101L, png(18, 12, 5, 20, None)),          // +brightness → hamming 0
      (102L, png(18, 12, 5, 0, Some((5, 3)))),   // 1-px edit → ≤2 bits
      (110L, png(27, 16, 60, 0, None)),
      (111L, png(27, 16, 60, 20, None)),
      (120L, png(11, 9, 140, 0, None)),
      (121L, png(11, 9, 140, 20, None))
    ).toDF("media_id", "payload")
    graft.multimodal.Multimodal.dhashNearDups(media, maxHamming = 8)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** Acoustic near-dup fingerprinting: real 16-bit PCM WAV containers
    * from the integer sawtooth `((f·37+seed)%4096)−2048`, scaled (gain)
    * and locally perturbed — decode on the engine side, formula replay
    * on the oracle side. Gain-doubled members hash identically; the
    * one-frame edit flips ≤2 bits. */
  private def audioFpQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def wav(frames: Int, seed: Int, scale: Int, noiseF: Int) =
      graft.multimodal.SyntheticAudio.wavPcm(8000, 1, 16, Array.tabulate(frames) { f =>
        (((f * 37 + seed) % 4096) - 2048) * scale +
          (if (f == noiseF) 500 else 0)
      })
    val media = Seq(
      (200L, wav(800, 11, 1, -1)),
      (201L, wav(800, 11, 2, -1)),   // 2× gain → hamming 0
      (202L, wav(800, 11, 1, 100)),  // one-frame edit → ≤2 bits
      (210L, wav(650, 400, 1, -1)),
      (211L, wav(650, 400, 2, -1)),
      (220L, wav(800, 999, 1, -1))
    ).toDF("media_id", "payload")
    graft.multimodal.Multimodal.audioNearDups(media, maxHamming = 6)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** FULL audio decode, the WAV leg of multimodal: real RIFF/PCM
    * containers built from an integer sample formula, decoded
    * DISTRIBUTED by the pure-JVM `WavCodec` (chunk walk, PCM sample
    * extraction); the oracle replays frame counts, integer-division
    * durations, and RMS from the same formula (sample squares are exact
    * integers, so the float RMS matches bit-for-bit). */
  private def mmAudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = (1 to 10).map { i =>
      (i.toLong, graft.multimodal.SyntheticAudio.wavFull(
        Seq(8000, 16000, 22050, 44100)(i % 4), 1 + (i % 3),
        100 + (i % 5) * 77, (i * 13) % 97))
    }.toDF("media_id", "payload")
    graft.multimodal.Multimodal.audioStats(media)
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_channels").cast("long").as("n_channels"),
        col("n_frames"), col("duration_ms"),
        round(col("rms"), 6).as("rms_r"))
      .orderBy("media_id")
  }

  /** Video container probe, the MP4 leg of multimodal: real ISO-BMFF
    * box walking (`Mp4Probe` — mvhd v0/v1 duration, tkhd fixed-point
    * dims, non-visual-track skip) over synthetic containers built from
    * integer formulas; the oracle replays the timescale arithmetic.
    * Frame decode needs codec libraries (documented seam); the
    * container metadata a frame-sampling plan consumes is parsed from
    * real bytes, distributed. */
  private def mmVideoProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = (1 to 8).map { i =>
      val ts = Seq(600L, 1000L, 90000L, 48000L)(i % 4)
      val dims = (320 + i * 16, 180 + i * 9)
      (i.toLong, graft.multimodal.SyntheticVideo.mp4Of(
        ts, ts * (10 + i) + i * 7,
        if (i % 3 == 0) Seq((0, 0), dims) else Seq(dims),
        mvhdV1 = i % 2 == 1))
    }.toDF("media_id", "payload")
    graft.multimodal.Multimodal.videoProbe(media)
      .select(col("media_id"), col("duration_ms"),
        col("vid_width").cast("long").as("vid_width"),
        col("vid_height").cast("long").as("vid_height"),
        col("n_tracks").cast("long").as("n_tracks"))
      .orderBy("media_id")
  }

  /** Cross-format media dedup: the SAME raster encoded as PNG, GIF, and
    * baseline JPEG (plus gray PNG↔JPEG pairs and singletons) is found
    * duplicate by DECODED-content fingerprint — byte-level hashing can
    * never match these, the encodings share no bytes. Composes
    * `Multimodal.pixelFingerprints` with the standard
    * `Dedup.exactDuplicates` operator (one hash shuffle). The oracle
    * recomputes duplicate groups INDEPENDENTLY by materializing each
    * id's raster from its generative formula and grouping on the full
    * pixel sequence. */
  private def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{SyntheticAudio, SyntheticMedia}
    import SyntheticMedia.{gifRaster, tileRaster}
    val media = (
      // ids 1-8: GIF + PNG pairs over the same palette-resolved raster
      (0 to 3).flatMap { k =>
        val (w, h, seed) = (11 + k, 7 + k, 10 + 7 * k)
        Seq((2 * k + 1L, SyntheticMedia.gifFull(w, h, seed)),
          (2 * k + 2L, SyntheticMedia.pngOf(w, h, 3, gifRaster(w, h, seed))))
      } ++ {
        // ids 9-12: gray JPEG + gray PNG pairs over the same 8-tile raster
        Seq((16, 16, 101, 9L), (24, 9, 33, 11L)).flatMap { case (w, h, seed, id) =>
          Seq((id, SyntheticMedia.jpegFullGray(w, h, seed)),
            (id + 1, SyntheticMedia.pngOf(w, h, 1, tileRaster(w, h, 8, seed, 1))))
        }
      } ++ {
        // ids 13-15: ONE raster, THREE formats — PNG, GIF, 4:2:0 JPEG
        val raster = tileRaster(32, 32, 16, 77, 3)
        val grays = raster.grouped(3).map(_(0)).toArray
        val vals = grays.distinct.sorted
        val pal = Array.tabulate(4)(i =>
          { val v = vals(math.min(i, vals.length - 1)); Array(v, v, v) })
        Seq((13L, SyntheticMedia.pngOf(32, 32, 3, raster)),
          (14L, SyntheticMedia.gifOf(32, 32, grays.map(vals.indexOf(_)), pal)),
          (15L, SyntheticMedia.jpegFullColor(32, 32, 77)))
      } ++ Seq(
        // ids 16-18: singletons; id 19: non-image (null fingerprint)
        (16L, SyntheticMedia.pngFull(10, 6, 200)),
        (17L, SyntheticMedia.gifFull(9, 8, 55)),
        (18L, SyntheticMedia.jpegFullGray(17, 11, 66)),
        (19L, SyntheticAudio.wavFull(8000, 1, 16, 4)))
      ).toDF("media_id", "payload")
    val fps = graft.multimodal.Multimodal.pixelFingerprints(media)
      .filter(col("pixel_fp").isNotNull)
    graft.operators.Dedup.exactDuplicates(fps, idCol = "media_id", textCol = "pixel_fp")
      .select(col("keeper").cast("long").as("keeper"),
        col("n_dups").cast("long").as("n_copies"),
        array_join(col("dup_ids").cast("array<string>"), ",").as("member_ids"))
      .orderBy("keeper")
  }

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

  /** A13 + P7: whole-table content snapshots (MinHash over space-joined
    * row strings), digest stringified for the oracle compare. */
  private def contentSnapshots(s: SparkSession, dir: String): DataFrame =
    lakeSnapshots(s, dir)
      .select(col("table_name"), array_join(col("content_snapshot"), ",").as("snapshot"))
      .orderBy("table_name")

  /** S2/S3/S6 round-trip: nation → gzip CSV on disk → directory walk →
    * RobustCsv fallback chain → aggregate. The oracle parses the SAME
    * compressed file with DuckDB's CSV reader, so codec handling, header,
    * quoting, and schema inference are all cross-checked, not just
    * spec'd. */
  private def compressedRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = "/tmp/graft_fixtures/nation_gz"
    t(s, dir, "nation").orderBy("n_nationkey").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(out)
    val path = graft.ingest.RobustCsv.listTables(s, out).head
    val df = graft.ingest.RobustCsv.read(s, path).get
    df.groupBy(col("n_regionkey").cast("long").as("n_regionkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_nationkey")).cast("long").as("sum_key"),
        sum(length(col("n_name"))).cast("long").as("name_chars"))
      .orderBy("n_regionkey")
  }

  /** S7/S8 round-trip: profile catalog → bucketed parquet sketch store
    * → read back → same projection as `profile_sketches`. Green iff the
    * persisted digests survive the store bit-for-bit (the oracle
    * recomputes them from the raw tables). */
  private def sketchRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = "/tmp/graft_fixtures/sketch_store"
    graft.store.SketchStore.writeParquet(
      lakeCatalog(s, dir).filter(col("table_name").isin("region", "nation")), out)
    graft.store.SketchStore.readParquet(s, out)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        col("rows").as("n_rows"), col("num_nan"), col("unique").as("n_unique"),
        round(col("cell_width"), 6).as("cell_width_r"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        array_join(col("minhash_words"), ",").as("mh_words"))
      .orderBy("table_name", "col_idx")
  }

  /** P1/S4/P4 ingest hygiene: a fixture CSV with messy headers (quote/space
    * padding, an embedded comma) plus a synthetic row_index column, and a
    * second sub-5-row CSV. The robust reader must sanitize names, drop
    * row_index, and filter the tiny table; DuckDB independently parses the
    * SAME files (row counts + the <5-row exclusion), with expected names
    * generated from the same `sanitizeName` the engine runs. */
  private def ingestHygiene(s: SparkSession, dir: String): DataFrame = {
    val fixDir = java.nio.file.Paths.get("/tmp/graft_fixtures/hygiene")
    java.nio.file.Files.createDirectories(fixDir)
    val data = t(s, dir, "nation").orderBy("n_nationkey").limit(20)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey")).collect()
    val messy = ("""row_index," n_NationKey ","N,Name",' n_regionkey '""" +:
      data.zipWithIndex.map { case (r, i) => s"$i,${r.get(0)},${r.get(1)},${r.get(2)}" }.toSeq)
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(fixDir.resolve("messy.csv"), messy.getBytes("UTF-8"))
    java.nio.file.Files.write(fixDir.resolve("tiny.csv"),
      "a,b\n1,x\n2,y\n3,z\n".getBytes("UTF-8"))
    val read = graft.ingest.RobustCsv.listTables(s, fixDir.toString)
      .flatMap(p => graft.ingest.RobustCsv.read(s, p).map(df => (p, df)))
    read.map { case (p, df) =>
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(p.split('/').last).as("file"),
          lit(df.columns.mkString(",")).as("cols"), col("n_rows"))
    }.reduce(_ unionByName _).orderBy("file")
  }

  /** J2 anti-join diagnostic: pairs naming tables ABSENT from the profile
    * catalog surface in the missing report (and resolvable pairs do not).
    */
  private def missingPairsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Seq(("customer", "orders"), ("nation", "atlantis"),
      ("gondor", "region")).toDF("table1", "table2")
    graft.ml.PairScoring.missingPairs(pairs, lakeCatalog(s, dir))
      .select("table1", "table2").orderBy("table1", "table2")
  }

  /** S7 JSON-document parity round-trip: catalog → per-table JSON sketch
    * documents (the reference's `{hash}.json.bz2` layout, data_prep.py:
    * 150-163) → read the bzip2 files back with an explicit schema → explode
    * the per-column map. A plain-codec copy of the SAME docs is written for
    * the oracle, which parses it with DuckDB's JSON reader (structure
    * check: an inner join on parsed (table, column) keys drops rows if the
    * doc layout is wrong) while recomputing every projected value — stats,
    * both digests, the content snapshot — from the raw tables (content
    * check). Green iff format, bzip2 codec, and contents all survive. */
  private def jsonSketchRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val outBz = "/tmp/graft_fixtures/sketch_docs_bz2"
    val outPlain = "/tmp/graft_fixtures/sketch_docs_plain"
    val profs = lakeCatalog(s, dir).filter(col("table_name").isin("region", "nation"))
    val snaps = lakeSnapshots(s, dir).filter(col("table_name").isin("region", "nation"))
    graft.store.SketchStore.writeJsonBz2(profs, snaps, outBz)
    graft.store.SketchStore.writeJsonBz2(profs, snaps, outPlain, codec = "none")
    val colSchema = StructType(Seq(
      StructField("name", StringType), StructField("type", StringType),
      StructField("num_nan", LongType), StructField("unique", LongType),
      StructField("cell_width_bytes", DoubleType),
      StructField("quantile", ArrayType(DoubleType)),
      StructField("min-hash-exact", ArrayType(LongType)),
      StructField("min-hash-words", ArrayType(LongType))))
    val docSchema = StructType(Seq(
      StructField("table_metadata", StructType(Seq(
        StructField("file_name", StringType), StructField("rows", LongType)))),
      StructField("columns", MapType(StringType, colSchema)),
      StructField("content_snapshot", ArrayType(LongType))))
    s.read.schema(docSchema).json(outBz)
      .select(col("table_metadata.file_name").as("table_name"),
        col("table_metadata.rows").as("n_rows"),
        // ACTUAL key count of the written doc's columns map — the oracle
        // side emits the EXPECTED per-table column count from its schema
        // literals, so a column omitted from the document (which the
        // explode below would silently drop) breaks the hash compare.
        size(col("columns")).cast("long").as("n_doc_cols"),
        col("content_snapshot"),
        explode(col("columns")).as(Seq("col_name", "c")))
      .select(col("table_name"), col("col_name"), col("n_doc_cols"),
        col("c.type").as("col_type"), col("n_rows"),
        col("c.num_nan").as("num_nan"), col("c.unique").as("n_unique"),
        round(col("c.cell_width_bytes"), 6).as("cell_width_r"),
        array_join(col("c.`min-hash-exact`"), ",").as("mh_exact"),
        array_join(col("c.`min-hash-words`"), ",").as("mh_words"),
        array_join(col("content_snapshot"), ",").as("snapshot"))
      .orderBy("table_name", "col_name")
  }

  /** S10/P11 round-trip: write a finetune pair-label JSON descriptor,
    * read it with Splits.readPairLabels, normalize filenames with
    * tableKey. The oracle parses the same file with DuckDB's JSON reader.
    */
  private def splitRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get("/tmp/graft_fixtures/pair_labels.json")
    java.nio.file.Files.createDirectories(p.getParent)
    def mk(a: String, b: String, l: Int) =
      s"""{"table1":{"filename":"data/$a.csv"},"table2":{"filename":"data/$b.csv.gz"},"label":$l}"""
    val json =
      s"""{"train":[${mk("customer", "orders", 1)},${mk("nation", "region", 1)},${mk("part", "events", 0)}],
         |"valid":[${mk("supplier", "customer", 1)}],
         |"test":[${mk("lineitem", "orders", 0)}]}""".stripMargin
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    graft.sources.Splits.readPairLabels(s, p.toString)
      .select(col("split"),
        graft.sources.Splits.tableKey(col("table1")).as("t1"),
        graft.sources.Splits.tableKey(col("table2")).as("t2"),
        col("label").cast("long").as("label"))
      .orderBy("split", "t1", "t2")
  }

  /** Fixture rows for `s12_excel_charset` — shared with the oracle-SQL
    * generator the way the MinHash permutation constants are: both engines
    * state the EXPECTED decoded content independently of the file bytes. */
  val CharsetFixtureRows: Seq[(Long, String, String)] = Seq(
    (1L, "café", "paris"), (2L, "jürgen", "münchen"), (3L, "bjørn", "oslo"),
    (4L, "rené", "nice"), (5L, "niño", "madrid"), (6L, "åsa", "umeå"))

  /** S12 + charset detection, oracle-verified: the SAME logical table is
    * written as an ISO-8859-1 CSV, a UTF-16LE (BOM) CSV, and an .xlsx
    * workbook (sharedStrings layout — `ExcelRead`'s other string path from
    * the spec's inlineStr). The robust reader must detect each charset and
    * decode identical content (reference `data_prep.py:78,114-117`).
    * DuckDB 1.0 reads none of the three encodings natively, so the engine
    * writes UTF-8 conversion copies; the oracle joins those against its
    * own literal expected rows — a wrong decode OR a wrong conversion
    * drops join rows and fails the compare. */
  private def excelCharsetQ(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val fixDir = Paths.get("/tmp/graft_fixtures/charset")
    val convDir = Paths.get("/tmp/graft_fixtures/charset_utf8")
    Files.createDirectories(fixDir); Files.createDirectories(convDir)
    val csv = "id,name,city\n" +
      CharsetFixtureRows.map { case (i, n, c) => s"$i,$n,$c" }.mkString("\n") + "\n"
    Files.write(fixDir.resolve("latin1.csv"), csv.getBytes("ISO-8859-1"))
    Files.write(fixDir.resolve("utf16.csv"),
      Array[Byte](0xff.toByte, 0xfe.toByte) ++ csv.getBytes("UTF-16LE"))
    writeXlsxShared(fixDir.resolve("book.xlsx").toString, CharsetFixtureRows)
    // same logical table as a legacy BIFF8 workbook (ministream container,
    // RK ids + compressed/UTF-16 SST strings) — the XlsRead arm of S12
    graft.ingest.XlsWrite.write(fixDir.resolve("book.xls").toString,
      Seq("id", "name", "city"),
      CharsetFixtureRows.map { case (i, n, c) => Seq[Any](i, n, c) },
      forceRegularFat = false)
    Seq("latin1.csv", "utf16.csv", "book.xlsx", "book.xls").map { label =>
      val p = fixDir.resolve(label).toString
      val charset =
        if (label.endsWith(".xlsx")) "xlsx"
        else if (label.endsWith(".xls")) "xls-biff8"
        else graft.ingest.RobustCsv.detectCharset(s, p)
      val df = graft.ingest.RobustCsv.read(s, p)
        .getOrElse(sys.error(s"unreadable charset fixture $label"))
        .select(col("id").cast("long").as("id"), col("name"), col("city"))
      // UTF-8 conversion copy for the oracle (bounded: 6 fixture rows)
      val data = df.orderBy("id").collect()
      Files.write(convDir.resolve(label + ".csv"),
        ("id,name,city\n" + data.map(r =>
          s"${r.getLong(0)},${r.getString(1)},${r.getString(2)}").mkString("\n") + "\n")
          .getBytes("UTF-8"))
      df.select(lit(label).as("file"), lit(charset).as("charset"),
        col("id"), col("name"), col("city"))
    }.reduce(_ unionByName _).orderBy("file", "id")
  }

  /** Minimal sharedStrings .xlsx writer (fixture): numeric `id` cells plus
    * shared-string name/city cells — the workbook shape `ExcelRead`
    * decodes via the sharedStrings table. */
  private def writeXlsxShared(path: String, rows: Seq[(Long, String, String)]): Unit = {
    val strings = ("id" +: "name" +: "city" +: rows.flatMap(r => Seq(r._2, r._3))).distinct
    val sidx = strings.zipWithIndex.toMap
    def sCell(ref: String, v: String) = s"""<c r="$ref" t="s"><v>${sidx(v)}</v></c>"""
    def nCell(ref: String, v: Long) = s"""<c r="$ref"><v>$v</v></c>"""
    val header = s"""<row r="1">${sCell("A1", "id")}${sCell("B1", "name")}${sCell("C1", "city")}</row>"""
    val body = rows.zipWithIndex.map { case ((id, n, c), i) =>
      val r = i + 2
      s"""<row r="$r">${nCell(s"A$r", id)}${sCell(s"B$r", n)}${sCell(s"C$r", c)}</row>"""
    }.mkString
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets><sheet name="S1" sheetId="1"/></sheets></workbook>""")
    entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst>${strings.map(v => s"<si><t>$v</t></si>").mkString}</sst>""")
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>$header$body</sheetData></worksheet>""")
    zos.close()
  }

  /** Fixture rows for `s_jsonl_scan` — stated once, shared with the
    * oracle-SQL generator (the charset-fixture pattern): (id, Title,
    * meta.lang, meta.score). Row 4 has no meta object (null flattening),
    * row 6's title carries an escaped quote + non-ASCII.
    */
  val JsonlFixtureRows: Seq[(Long, String, Option[(String, Long)])] = Seq(
    (1L, "alpha doc", Some(("en", 90L))),
    (2L, "beta \\\"quoted\\\"", Some(("de", 75L))),
    (3L, "gamma søk", Some(("no", 60L))),
    (4L, "delta bare", None),
    (5L, "epsilon doc", Some(("en", 40L))),
    (6L, "zeta doc", Some(("fr", 85L))))

  /** JSONL corpus ingest, oracle-verified: a plain shard (with one corrupt
    * line and one meta-less row) plus a gzipped shard of the same logical
    * stream. The robust reader must parse both, flatten `meta.*`,
    * lowercase the `Title` key, and account for the corrupt line instead
    * of failing — DuckDB replays with `read_json(ignore_errors)` and
    * literal expected counts. */
  private def jsonlScanQ(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val fixDir = Paths.get("/tmp/graft_fixtures/jsonl")
    Files.createDirectories(fixDir)
    def line(r: (Long, String, Option[(String, Long)])): String = r match {
      case (id, title, meta) =>
        val m = meta.map { case (l, sc) => s""","meta":{"lang":"$l","score":$sc}""" }.getOrElse("")
        s"""{"id":$id,"Title":"$title"$m}"""
    }
    val (head, tail) = JsonlFixtureRows.splitAt(4)
    val plain = (head.map(line) :+ """{"id":999,"Title": broken""").mkString("\n") + "\n"
    Files.write(fixDir.resolve("shard0.jsonl"), plain.getBytes("UTF-8"))
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(fixDir.resolve("shard1.jsonl.gz")))
    gz.write((tail.map(line).mkString("\n") + "\n").getBytes("UTF-8")); gz.close()
    val docs = graft.ingest.JsonlRead.read(s, fixDir.toString)
    val report = graft.ingest.JsonlRead.ingestReport(s, fixDir.toString)
    docs.filter(col("corrupt_line").isNull)
      .join(report, Seq("src_file"))
      .select(col("src_file").as("file"), col("n_corrupt"),
        col("id").cast("long").as("id"), col("title"),
        col("meta_lang").as("lang"), col("meta_score").cast("long").as("score"))
      .orderBy("file", "id")
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

  /** O6 canonical column order: rank of each column under the sorted-name
    * order the tokenizer feeds the model (`tabular_tokenizer.py:291`). */
  private def canonicalOrderQ(s: SparkSession, dir: String): DataFrame =
    graft.ml.TokenizerOps.canonicalColumns(
      lakeCatalog(s, dir).filter(col("table_name").isin("customer", "orders", "part")))
      .select(col("table_name"), col("col_name"),
        row_number().over(Window.partitionBy("table_name").orderBy("col_name"))
          .cast("long").as("canon_pos"))
      .orderBy("table_name", "canon_pos")

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

  /** S5 metadata sidecar merge: per-table JSON sidecars (the reference's
    * `{table_name, table_description, dataset_description}` shape,
    * `datamodule.py:36-44`) read by `Splits.readMetadata` and joined to
    * row counts recomputed from the raw tables. DuckDB parses the SAME
    * sidecar files and recomputes the same counts. */
  private def sidecarMerge(s: SparkSession, dir: String): DataFrame = {
    val fixDir = java.nio.file.Paths.get("/tmp/graft_fixtures/sidecars")
    java.nio.file.Files.createDirectories(fixDir)
    Seq("region" -> "continental regions", "nation" -> "nations with region links").foreach {
      case (tbl, desc) =>
        java.nio.file.Files.write(fixDir.resolve(s"$tbl.meta.json"),
          s"""{"table_name": "$tbl", "table_description": "$desc", "dataset_description": "tpch-ish driver lake"}"""
            .getBytes("UTF-8"))
    }
    val meta = graft.sources.Splits.readMetadata(s, fixDir.toString)
    val counts = Seq("region", "nation").map { n =>
      t(s, dir, n).agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("table_name"), col("n_rows"))
    }.reduce(_ unionByName _)
    meta.join(counts, "table_name")
      .select(col("table_name"), col("table_description"),
        col("dataset_description"), col("n_rows"))
      .orderBy("table_name")
  }

  /** O7 seeded shuffle: the first 100 customers in seed-42 training order.
    * The order is an MD5 mix of (seed, key), so DuckDB replays it exactly —
    * the point of the deterministic shuffle (`tabular_dataset.py:18-19`):
    * the same seed gives the same epoch order on ANY engine or layout. */
  private def seededShuffleQ(s: SparkSession, dir: String): DataFrame = {
    val sk = graft.sources.Splits.shuffleKey(42L, Seq(col("c_custkey")))
    // Global top-100 in shuffle order as TakeOrderedAndProject (distributed
    // partial top-k per partition, merged on the driver) — NOT a
    // row_number window over the whole shuffled table, which would funnel
    // every row through one partition. The rank window then orders only
    // the 100 survivors (the TextSearch.bm25 pattern).
    val top100 = graft.sources.Splits.seededShuffle(
      t(s, dir, "customer"), seed = 42L, keyCols = Seq("c_custkey"))
      .limit(100)
    // window-free rank of the 100 survivors (TakeOrdered output is one
    // sorted partition; see Ranking.withPosition)
    graft.operators.Ranking.withPosition(top100, "pos")
      .select(col("pos"), col("c_custkey").cast("long").as("c_custkey"))
      .orderBy("pos")
  }

  /** J3: precision/recall@5 of brute-force ANN against same-label ground
    * truth (labels make the truth relation relational, so the whole
    * evaluation join is independently recomputable). */
  private def searchEval(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.precisionAtK(results, truth, 5).orderBy("query")
  }

  /** J3 ranking-quality extension: nDCG@5 of the same brute-force search
    * vs label-mates ground truth as `j3_search_eval` — position-aware
    * where precision@k is not; integer micro-gain sums keep it
    * engine-replayable.
    */
  private def searchNdcgQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.ndcgAtK(results, truth, 5).orderBy("query")
  }

  /** Q5: whole-table near-duplicate search by content-snapshot Jaccard. */
  private def tableSearch(s: SparkSession, dir: String): DataFrame =
    Discovery.searchTables(lakeSnapshots(s, dir), "nation", k = 10)
      .select(col("cand_table"), round(col("jaccard"), 6).as("jaccard"))

  private def searchMinhash(s: SparkSession, dir: String): DataFrame =
    Discovery.searchUnionable(lakeCatalog(s, dir), "supplier", k = 10)

  /** Q4 subset mode: tables ranked by containment of nation's columns. */
  private def searchSubsetQ(s: SparkSession, dir: String): DataFrame =
    Discovery.searchSubset(lakeCatalog(s, dir), "nation", k = 10)

  private def minhashJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "orders", "part", "lineitem"))
    val cols = profiles.select(col("table_name"), col("col_name"), col("minhash_exact"), col("unique"))
    cols.as("a").join(cols.as("b"),
        col("a.table_name") < col("b.table_name"))
      .select(concat_ws(".", col("a.table_name"), col("a.col_name")).as("col_a"),
        concat_ws(".", col("b.table_name"), col("b.col_name")).as("col_b"),
        round(minhash_jaccard(col("a.minhash_exact"), col("b.minhash_exact")), 6).as("jaccard_est"),
        round(minhash_containment(col("a.minhash_exact"), col("b.minhash_exact"),
          col("a.unique"), col("b.unique")), 6).as("containment_est"))
      .filter(col("jaccard_est") > 0.05)
      .orderBy("col_a", "col_b")
  }

  private def minhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(t(s, dir, "documents"), threshold = 0.05, bands = 20)
      .orderBy("id_a", "id_b")

  private def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("doc_id") <= 40)
    val sh = docs.select(col("doc_id").as("id"), simhash64(col("text")).as("sh"))
    sh.as("a").join(sh.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).cast("long").as("hamming"))
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
  }

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

  private def typeInference(s: SparkSession, dir: String): DataFrame =
    LakeTables.map { name =>
      val df = t(s, dir, name)
      val rows = df.schema.fields.zipWithIndex.map { case (f, i) =>
        (name, i.toLong, f.name, Profiler.logicalType(f.dataType))
      }
      s.createDataFrame(rows.toSeq).toDF("table_name", "col_idx", "col_name", "col_type")
    }.reduce(_ unionByName _).orderBy("table_name", "col_idx")

  private def embNearDups(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDups(t(s, dir, "embeddings"), threshold = 0.35)
      .orderBy("id_a", "id_b")

  /** PQ-ADC top-k (Jégou et al. 2011): product-quantized corpus,
    * asymmetric-distance search — all-integer, oracle-exact. */
  private def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.pqTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
  }

  /** IVFADC composed index ([[Ann.ivfPqTopK]], Jégou et al. 2011):
    * coarse-cell routing + exact-integer ADC on residual PQ codes —
    * the resident-index scale path composing ann_kmeans_ivf's routing
    * with ann_pq_adc's scoring. */
  private def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.ivfPqTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
  }

  /** Recall self-audit of the IVFADC path ([[Ann.ivfPqTopK]] vs
    * [[Ann.bruteForceTopK]] — the ann_recall_audit shape): what the
    * composed coarse-quantizer + residual-code approximation costs on
    * THIS corpus. */
  private def annIvfPqRecall(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") <= 10)
    val exact = Ann.bruteForceTopK(embs, q, 5).select("query_id", "neighbor_id")
    val approx = Ann.ivfPqTopK(embs, q, 5).select("query_id", "neighbor_id")
    val hit = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_exact").cast("double"), 6)).as("recall"))
  }

  /** SemDeDup (Abbas et al. 2023): kmeans-cluster-scoped semantic
    * near-duplicate removal over the embeddings table. */
  private def semDedupQ(s: SparkSession, dir: String): DataFrame =
    Ann.semDedup(t(s, dir, "embeddings"), threshold = 0.35)
      .orderBy("vec_id")

  /** DSIR (Xie et al. 2023): Gumbel top-20 importance resample of the
    * document corpus toward its English subset's hashed-bigram
    * distribution. */
  private def dsirSampleQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Importance.resample(docs, docs.filter(col("lang") === "en"), n = 20)
      .orderBy("rank")
  }

  /** A16: distinct-value head for small-domain columns — deterministic via
    * full sort (domains ≤ ~100 values), string-joined for the oracle. */
  private def valueHeads(s: SparkSession, dir: String): DataFrame = {
    def head(tbl: String, c: String) =
      t(s, dir, tbl).agg(
        array_join(array_sort(collect_set(col(c).cast("string"))), ",").as("values_head"))
        .select(lit(s"$tbl.$c").as("col_ref"), col("values_head"))
    Seq(head("documents", "lang"), head("documents", "source"),
      head("events", "event_type"), head("orders", "o_orderstatus"),
      head("orders", "o_orderpriority"), head("lineitem", "l_returnflag"))
      .reduce(_ unionByName _).orderBy("col_ref")
  }

  /** A9: correlation probes (the reference's row-index correlation check,
    * generalized to column pairs). */
  private def corrProbe(s: SparkSession, dir: String): DataFrame = {
    def c(tbl: String, x: String, y: String) =
      t(s, dir, tbl).agg(round(corr(col(x), col(y)), 6).as("corr_v"))
        .select(lit(s"$tbl.$x~$y").as("pair"), col("corr_v"))
    Seq(c("orders", "o_orderkey", "o_custkey"),
      c("orders", "o_orderkey", "o_totalprice"),
      c("lineitem", "l_quantity", "l_extendedprice"),
      c("events", "user_id", "value"))
      .reduce(_ unionByName _).orderBy("pair")
  }

  /** A15: order-independent content hash per table (dup-table detection). */
  private def contentHashes(s: SparkSession, dir: String): DataFrame =
    Seq("region", "nation", "customer", "supplier", "part").map { n =>
      graft.ingest.Augment.contentHash(t(s, dir, n))
        .select(lit(n).as("table_name"), col("content_hash"), col("rows"))
    }.reduce(_ unionByName _).orderBy("table_name")

  /** P8/P9/A15: the 3-augmentation sketch-build invariant (`data_prep.py:
    * 281-337`) — aug 0 original, aug 1 obscured names, aug 2 deterministic
    * column shuffle. Content hashes DIFFER across augs (identity tracks
    * header + column order) while per-column value digests are IDENTICAL
    * under renaming/shuffle (the reference's sketch-reuse invariant):
    * `cols_reuse` counts aug columns whose recomputed digest equals the
    * original column's, mapped by position (aug 1) / permutation (aug 2).
    * The oracle recomputes each hash with the same permuted order
    * ([[graft.ingest.Augment.lehmerPerm]] is shared with the SQL
    * generator) and pins `cols_reuse` at full width. */
  private def augmentHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "part")
    val n = base.columns.length
    val augs: Seq[(Int, DataFrame, Seq[Int])] = Seq(
      (0, base, 0 until n),
      (1, graft.ingest.Augment.obscureColumns(base), 0 until n),
      (2, graft.ingest.Augment.shuffleColumnsDet(base, 2),
        graft.ingest.Augment.lehmerPerm(n, 2)))
    val d0 = Profiler.profile(base, "part", withQuantiles = false)
      .select(col("col_idx").cast("long").as("oidx"), col("minhash_exact").as("dig0"))
    augs.map { case (id, df, origIdxAtPos) =>
      val header = df.columns.mkString(",")
      val posToOrig = origIdxAtPos.zipWithIndex
        .map { case (o, p) => (p.toLong, o.toLong) }.toDF("col_idx", "oidx")
      val reuse = Profiler.profile(df, s"part_aug$id", withQuantiles = false)
        .select(col("col_idx").cast("long").as("col_idx"), col("minhash_exact"))
        .join(broadcast(posToOrig), "col_idx")
        .join(broadcast(d0), "oidx")
        .agg(sum(when(col("minhash_exact") === col("dig0"), 1L).otherwise(0L))
          .as("cols_reuse"))
      graft.ingest.Augment.contentHash(df)
        .select(lit(id.toLong).as("aug_id"), lit(header).as("header"),
          col("content_hash"), col("rows").as("n_rows"))
        .crossJoin(reuse)
    }.reduce(_ unionByName _).orderBy("aug_id")
  }

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

  /** M4: pair similarity features over the profile catalog. */
  private def pairFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "supplier", "orders", "nation", "region", "part"))
    // the two (t, t) rows are Q8 self-pairs — the reference scores a table
    // against itself as the similarity sanity row; features must come out
    // at their fixed points (jaccard/name/type all 1.0), which the oracle
    // recomputes rather than assumes
    val pairs = Seq(("customer", "orders"), ("customer", "supplier"),
      ("nation", "region"), ("part", "supplier"), ("orders", "supplier"),
      ("nation", "nation"), ("region", "region"))
      .toDF("table1", "table2")
    graft.ml.PairScoring.pairFeatures(pairs, profiles).orderBy("table1", "table2")
  }

  /** T1+T4: tokenizer-layer tensors (stats + minhash channels), rendered
    * as DECIMAL(28,6)-joined strings — deterministic across engines (a
    * shortest-repr double print would diverge on tiny z-scores), and the
    * full 256-wide vectors stay exactly verifiable by the oracle.
    */
  private def featureTensors(s: SparkSession, dir: String): DataFrame = {
    val profiles = lakeCatalog(s, dir)
      .filter(col("table_name").isin("customer", "nation", "region"))
    def decStr(c: Column) =
      array_join(transform(c, x => x.cast(DecimalType(28, 6)).cast("string")), ",")
    graft.ml.FeatureAssembly.columnTensors(profiles, width = 256)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"),
        col("col_name"), col("col_type"),
        decStr(col("stats_vec")).as("stats_vec_str"),
        decStr(col("minhash_vec")).as("mh_vec_str"))
      .orderBy("table_name", "col_idx")
  }

  /** Multimodal surface: media relation derived deterministically from
    * `documents` (payload = UTF-8 bytes of text) so the binary-column
    * plumbing — octet length, payload digest, magic-byte sniff — has a
    * DuckDB-expressible oracle. Real media only changes the payload bytes.
    */
  private def mediaStats(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      lit(null).cast("string").as("mime"),
      encode(col("text"), "UTF-8").as("payload"),
      lit(null).cast("struct<width:int,height:int,duration_ms:bigint>").as("meta"))
    graft.multimodal.Multimodal.mediaStats(media)
      .withColumn("n_bytes", col("n_bytes").cast("long"))
      .orderBy("media_id")
  }

  /** Multimodal frame-sampling plan: video rows (doc_id % 3 == 2) with a
    * deterministic duration (n_chars × 100 ms), one frame per second —
    * the relational expansion is verified per media id. */
  private def framePlan(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"), lit("video").as("modality"),
        lit(null).cast("string").as("mime"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          (col("n_chars").cast("long") * 100L).as("duration_ms")).as("meta"))
    graft.multimodal.Multimodal.sampleFramePlan(media, stepMs = 1000L)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"), max(col("frame_offset_ms")).as("last_offset_ms"))
      .orderBy("media_id")
  }

  /** Multimodal header decode, oracle-verified with REAL byte parsing:
    * payloads are valid PNG/JPEG/GIF containers synthesized from
    * (doc_id, n_chars) arithmetic (bounded fixture: 61 rows built
    * driver-side), the engine parses dimensions back OUT of the bytes
    * distributed (`Multimodal.probeHeaders` / `HeaderDecoder` — BE32 IHDR,
    * JPEG SOF marker walk over a real APP0 segment, LE16 GIF screen), and
    * DuckDB recomputes the expected dimensions from the same arithmetic,
    * never touching the bytes. A parser bug on any endianness/offset
    * breaks the hash. */
  private def decodeProbe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val src = t(s, dir, "documents").filter(col("doc_id") <= 60)
      .select(col("doc_id"), col("n_chars")).collect()
    val rows = src.map { r =>
      val (id, n) = (r.getAs[Number](0).longValue(), r.getAs[Number](1).intValue())
      val (w, h) = ((n % 640 + 16), (n % 480 + 16))
      val payload = (id % 3) match {
        case 0 => graft.multimodal.SyntheticMedia.png(w, h)
        case 1 => graft.multimodal.SyntheticMedia.jpeg(w, h)
        case _ => graft.multimodal.SyntheticMedia.gif(w, h)
      }
      org.apache.spark.sql.Row(id, "image", null, payload, null)
    }
    val media = s.createDataFrame(
      s.sparkContext.parallelize(rows.toIndexedSeq, 4),
      graft.multimodal.Multimodal.mediaSchema)
    graft.multimodal.Multimodal.probeHeaders(media)
      .select(col("media_id"), col("format"),
        col("img_width").cast("long").as("img_width"),
        col("img_height").cast("long").as("img_height"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .orderBy("media_id")
  }

  /** A14: hashing-trick alt sketch per column (md5 buckets — DuckDB
    * recomputes the sparse vector exactly). */
  private def hashingSketches(s: SparkSession, dir: String): DataFrame = {
    val values = Seq("nation", "region", "supplier").map { n =>
      Profiler.longFormat(t(s, dir, n)).withColumn("table_name", lit(n))
    }.reduce(_ unionByName _)
    graft.ml.FeatureAssembly.hashingSketch(values, nFeatures = 1024)
      .select(col("table_name"), col("col_idx").cast("long").as("col_idx"), col("hv_str"))
      .orderBy("table_name", "col_idx")
  }

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Widen a file-source stream before compute-dense fan-out (guide
    * §2.5): a small-on-disk parquet source yields 1-3 scan splits per
    * micro-batch, so an explode-heavy streamed aggregation otherwise
    * runs its whole map side on 1-3 cores (measured: the quantile
    * micro-batch spent 3.7 s in a 3-task stage). One round-robin
    * exchange of the RAW rows (pre-explode — the narrow relation)
    * spreads the fan-out; the count follows the session's CORE
    * parallelism (defaultParallelism, not numShufflePartitions — the
    * stateful-stream runs lower the shuffle-partition conf to bound
    * state-store instances, and the map-side width must not shrink
    * with it). Pure partitioning: every streamed aggregate is
    * partition-invariant (streamed == batch is each query's oracle). */
  private def widenStream(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Run a stateful streaming query (its `.start()` + drain) with
    * `spark.sql.shuffle.partitions` lowered to the state-partition
    * count, restoring the session value after. Stateful operators
    * (streaming aggregates, stream-stream joins, dedup-within-watermark,
    * session windows) instantiate ONE state store per shuffle partition
    * per stateful operator and pay a per-partition commit on EVERY
    * micro-batch — at the session's 32 shuffle partitions that is pure
    * fixed overhead (measured on st_stream_attrib: two ~3 s 32-task
    * stages whose shuffle input is <1 MB; the cost is 4 stores × 32
    * partitions × per-batch commit, not compute — guide §5). State
    * partitioning is invisible to results (streamed == batch is each
    * query's oracle) and bounds STATE-STORE INSTANCES, not correctness.
    * Scale note: the right count tracks STATE VOLUME, not core count —
    * a 100 TB deployment sets SPARK_GRAFT_STREAM_STATE_PARTITIONS to
    * its cluster's shuffle width; the local default 4 matches the MBs
    * of state these queries carry per micro-batch. */
  private def withStreamState[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "4")
    s.conf.set(key, n)
    try body finally s.conf.set(key, prev)
  }

  /** Start a stateful streaming query under [[withStreamState]] and
    * drain it (AvailableNow + awaitTermination). The `start` thunk must
    * CONTAIN the `.start()` call: Structured Streaming snapshots the
    * session conf when the query starts, so the lowered
    * shuffle-partition count must be in force at that moment. */
  private def runStreamNarrow(s: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
    withStreamState(s) { start.awaitTermination() }

  /** §2.12: Structured-Streaming profile of `nation`, driven to completion
    * with AvailableNow and read back from the memory sink. The MinHash
    * merge algebra makes the streamed profile EQUAL the batch profile over
    * the same rows, so this streaming query has an exact DuckDB oracle —
    * the strongest possible evidence the incremental path is lossless.
    */
  /** Streaming watermarked hourly rollup (the canonical readStream →
    * window agg → sink shape): the streamed per-hour event counts must
    * equal the batch date_trunc rollup — window(ts, 1h) is epoch-hour
    * aligned, counts are additive, so streamed == batch exactly. */
  private def streamingRateQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_rate_${streamSeq.incrementAndGet()}"
    val schema = t(s, dir, "events").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      // micros-NTZ → session-TZ (UTC) timestamp for the watermark clock
      .withColumn("ts", col("ts").cast("timestamp"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.hourlyEventCounts(stream)
      // back to NTZ so the parquet dump compares as a wall-clock hour
      .select(col("event_type"), col("h").cast("timestamp_ntz").as("h"), col("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("event_type", "h")
  }

  private def streamingProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.StringType
    val name = s"st_profile_${streamSeq.incrementAndGet()}"
    val schema = t(s, dir, "nation").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "nation.parquet").parquet(dir)
    val structs = schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      val v = // P2 empty→null, same rendering as Profiler.longFormat
        if (f.dataType == StringType) when(c === "", lit(null)).otherwise(c).cast("string")
        else c.cast("string")
      struct(lit(f.name).as("col_name"), v.as("value"))
    }
    val long = stream.select(explode(array(structs.toIndexedSeq: _*)).as("c")).select("c.*")
    runStreamNarrow(s)(graft.streaming.StreamingProfile.profileStream(long)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.AvailableNow()).start())
    s.table(name)
      .select(col("col_name"), col("rows").as("n_rows"), col("nulls").as("n_nulls"),
        array_join(col("digest"), ",").as("digest"))
      .orderBy("col_name")
  }

  /** Streaming mergeable quantiles: the HDR bucket counts are additive,
    * so a plain streaming aggregation in Complete mode IS the sketch —
    * the streamed state must equal the batch sketch (merge algebra), so
    * the oracle recomputes the deciles from the full table directly.
    */
  private def streamingQuantilesQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_qsk_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/lineitem.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "lineitem.parquet").parquet(dir)
    val long = Profiler.longFormat(widenStream(stream))
      .withColumn("table_name", lit("lineitem"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.quantileSketchStream(long)
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    graft.profile.QuantileSketch.deciles(s.table(name))
      .orderBy("col_idx", "decile")
  }

  /** §2.12 streaming dedup: `dropDuplicatesWithinWatermark` over the
    * events stream, fingerprinting (user_id, event_type), horizon wider
    * than the dataset span — so the streamed output must keep EXACTLY one
    * row per distinct key. Per-key arrival order is not deterministic, so
    * the query reports kept-row COUNTS per event_type (arrival-invariant);
    * the oracle is the batch distinct count. Green iff streaming state
    * drops every duplicate and nothing else.
    */
  private def streamingDedupQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_dedup_${streamSeq.incrementAndGet()}"
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      // micros-NTZ → session-TZ (UTC) timestamp for the watermark clock
      .withColumn("ts", col("ts").cast("timestamp"))
    val deduped = graft.streaming.StreamingDedup.dedupStream(
      stream, "ts", "3650 days", Seq("user_id", "event_type"))
    runStreamNarrow(s)(deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).groupBy("event_type")
      .agg(count(lit(1)).as("n_kept")).orderBy("event_type")
  }

  /** §2.12 streaming sessionization: gap-based `session_window` over the
    * events stream — the streamed sessions must equal the batch islands
    * (`e_sessionize` semantics at microsecond precision: a gap ≥ 30 min
    * closes the session). Append mode emits a session only when the
    * watermark passes its close, and a finite file stream's watermark
    * stops at max(ts) − delay — so the staged input carries a far-future
    * SENTINEL row that pushes the final watermark past every real
    * session; the sentinel's own session is filtered out by user_id.
    * The oracle recomputes the same sessions relationally from the full
    * table — green iff incremental session merging is indistinguishable
    * from batch. Checksum pins every session BOUNDARY (sum of session
    * start micros), not just counts.
    */
  private def streamingSessionsQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val name = s"st_sess_${streamSeq.incrementAndGet()}"
    val stage = Paths.get(s"/tmp/graft_fixtures/st_sessions_${math.abs(dir.hashCode)}")
    Files.createDirectories(stage)
    Files.copy(Paths.get(dir, "events.parquet"),
      stage.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batch = s.read.parquet(s"$dir/events.parquet")
    val sentinelOut = s"/tmp/graft_fixtures/st_sessions_sentinel_${math.abs(dir.hashCode)}"
    batch.agg(max(col("ts")).as("__mx"))
      .select(lit(-1L).as("event_id"),
        (col("__mx") + expr("interval 30 days")).as("ts"),
        lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite").parquet(sentinelOut)
    val part = Files.list(Paths.get(sentinelOut)).iterator()
    var copied = false
    while (part.hasNext && !copied) {
      val p = part.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        Files.copy(p, stage.resolve("zz_sentinel.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        copied = true
      }
    }
    require(copied, "sentinel parquet part not found")
    val stream = s.readStream.schema(batch.schema)
      .option("pathGlobFilter", "*.parquet").parquet(stage.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
    val sess = graft.streaming.StreamingProfile.sessionWindows(
      stream, "30 minutes", "1 hour")
    runStreamNarrow(s)(sess.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).filter(col("user_id") >= 0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"),
        sum(unix_micros(col("session_start"))).as("start_checksum"))
      .orderBy("user_id")
  }

  /** §2.12 stream-static enrichment: the events stream broadcast-joined
    * to the customer dimension per micro-batch, rolled up per market
    * segment in Complete mode
    * ([[graft.streaming.StreamingProfile.enrichedCounts]]). The oracle
    * replays the join as plain SQL — green iff the incremental join
    * + decimal rollup equals batch.
    */
  private def streamingEnrichQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_enrich_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    val dim = s.read.parquet(s"$dir/customer.parquet")
    runStreamNarrow(s)(graft.streaming.StreamingProfile.enrichedCounts(
        stream, dim, "user_id", "c_custkey", "c_mktsegment", "value")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name)
      .select(col("c_mktsegment"), col("n"),
        col("amount").cast("double").as("amount"))
      .orderBy("c_mktsegment")
  }

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

  /** §2.12 stream-stream attribution join: clicks matched to the same
    * user's purchases within the preceding hour, both sides watermarked
    * ([[graft.streaming.StreamingProfile.attributionJoin]]) — the
    * canonical bounded-state interval join. The memory sink collects the
    * appended pairs; the result pins per-user pair counts AND both id
    * checksums, so the exact matched SET must equal the batch interval
    * join the oracle runs.
    */
  private def streamingAttribQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_attrib_${streamSeq.incrementAndGet()}"
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    runStreamNarrow(s)(graft.streaming.StreamingProfile.attributionJoin(
        stream, "click", "purchase", "1 hour", "1 hour")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start())
    s.table(name).groupBy(col("t_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("t_id")).as("trig_checksum"),
        sum(col("c_id")).as("conv_checksum"))
      .orderBy("user_id")
  }

  /** §2.12 streaming NEURAL op: documents stream through the encoder
    * embedder inside each micro-batch (the per-partition
    * [[graft.ml.Scorer.ExternalEmbedder]] seam is stateless, so it
    * composes with Structured Streaming unchanged — the same property
    * that lets the batch deployment scale by partitions), then a
    * complete-mode per-language aggregate pins doc counts AND
    * per-dimension embedding checksums. Tokenization, features, encoder
    * arithmetic, and 6-dp float narrowing are EXACTLY [[q6ValueEmbed]]'s
    * (oracle-pinned there per doc); sums go through DECIMAL(18,6) so the
    * checksum is aggregation-order-independent — streamed == batch is
    * the contract the oracle checks, not approximately. */
  private def stStreamEmbedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_embed_${streamSeq.incrementAndGet()}"
    val (sq, d) = (OracleSql.TeS, OracleSql.TeD)
    val path = "/tmp/graft_fixtures/st_embed_encoder.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, withHead = false)
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") <= 48)
    val toks = stream.select(col("doc_id"), col("lang"),
      filter(split(lower(col("text")), "\\s+"), v => v =!= "").as("w"))
    val tids = toks.select(col("doc_id") +: col("lang") +: (0 until sq).map { si =>
      coalesce(when(size(col("w")) > si,
          graft.functions.SketchFunctions.md5_low32(col("w")(si)) % 64),
        lit(0L)).as(s"tid_$si")
    }: _*)
    val featCols = for (si <- 0 until sq; di <- 0 until d) yield s"x_${si}_$di"
    val feats = tids.select(col("doc_id") +: col("lang") +:
      (for (si <- 0 until sq; di <- 0 until d) yield
        (((col(s"tid_$si") * 7 + lit(di * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"x_${si}_$di")): _*)
    val emb = new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), featCols, dim = d)
      .score(feats)
    val perDoc = emb.select(col("lang") +: (0 until d).map(di =>
      round(col("embedding")(di).cast("double"), 6).as(s"e$di")): _*)
    val agg = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      (0 until d).map(di =>
        sum(col(s"e$di").cast(DecimalType(18, 6))).cast("double")
          .as(s"sum_e$di")): _*)
    runStreamNarrow(s)(agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("lang")
  }

  /** Funnel latency distribution: first view → first subsequent
    * purchase per user, exact-microsecond order statistics
    * ([[graft.operators.Events.timeToConvert]]).
    */
  private def timeToConvertQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.timeToConvert(t(s, dir, "events"))

  /** Linear multi-touch attribution: each purchase's credit split
    * equally over the same user's clicks in the preceding hour, rolled
    * up by click hour-of-day ([[graft.operators.Events.linearAttribution]]).
    */
  private def multiTouchQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.linearAttribution(t(s, dir, "events"))

  /** Snapshot schema/profile drift: two column-subset snapshots of
    * `orders` with disjoint filters — one column removed, one added, the
    * shared ones stat-shifted ([[graft.profile.SnapshotDiff.diff]]).
    */
  private def schemaDiffQ(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val snapA = o.filter(col("o_orderkey") % 3 < 2)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val snapB = o.filter(col("o_orderkey") % 3 > 0)
      .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    graft.profile.SnapshotDiff.diff(snapA, snapB)
  }

  /** Two-sample KS drift: purchase-event values vs view-event values
    * ([[graft.profile.Drift.ksTest]]) — the nonparametric complement to
    * `a_psi_drift` over the same split.
    */
  private def ksTestQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.profile.Drift.ksTest(
      ev.filter(col("event_type") === "purchase"),
      ev.filter(col("event_type") === "view"), "value")
  }

  /** §2.8 GROUPING SETS: the explicit multi-granularity aggregate
    * (finest, one-dim, grand total) with per-column grouping flags —
    * rollup/cube's general form, decimal-exact sums.
    */
  private def groupingSetsQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy("g_rf", "g_ls", "l_returnflag", "l_linestatus")

  /** Revenue share per nation: decimal-exact revenue, one broadcast
    * total, 6-dp shares — the percent-of-total report without a global
    * window.
    */
  private def revenueShareQ(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      // decimal-space discount product (the q1_agg discipline): cast
      // operands FIRST so the multiply is exact, not a rounded double
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .as("revenue"))
    val tot = rev.agg(sum(col("revenue")).as("__t"))
    rev.crossJoin(broadcast(tot))
      // divide in DOUBLE, not decimal: decimal-division result scales
      // are engine-specific; double-from-decimal conversion is not
      .select(col("n_name"), col("revenue").cast("double").as("revenue"),
        round(col("revenue").cast("double") / col("__t").cast("double"), 6)
          .as("share"))
      .orderBy(col("n_name"))
  }

  /** SCD2 change history over the event stream: each user's consecutive
    * runs of an equal event_type compressed to effective-dated versions
    * ([[graft.operators.Events.changeHistory]]) — eff_to NULL marks the
    * open current version; n_events counts the run.
    */
  private def changeHistoryQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.changeHistory(t(s, dir, "events"),
      "user_id", "ts", "event_type", "event_id")
      .orderBy("user_id", "version")

  /** Tokenizer-vocab coverage: per-language OOV rate against the
    * corpus' top-10 token vocabulary
    * ([[graft.operators.TextAnalysis.vocabCoverage]]).
    */
  private def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.vocabCoverage(t(s, dir, "documents"), 10)
      .orderBy("lang")

  /** Join-key skew diagnosis on the fact table's supplier key — the
    * report that decides whether a salted join / AQE skew split is
    * needed and with what factor ([[graft.operators.Skew.keySkewProfile]]).
    */
  private def keySkewQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.keySkewProfile(t(s, dir, "lineitem"), "l_suppkey", topN = 15)
      .orderBy(col("n").desc, col("l_suppkey"))

  /** MMR-diversified retrieval: greedy λ-tradeoff re-rank of each
    * query's cosine top-20 down to 5 diverse hits ([[graft.search.Mmr]]).
    */
  private def mmrRerankQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.search.Mmr.rerank(embs, embs.filter(col("vec_id") <= 2),
        nCandidates = 20, k = 5, lambda = 0.7)
      .orderBy("query_id", "rank")
  }

  /** Exact heavy hitters via the two-pass Misra–Gries pipeline
    * ([[graft.profile.HeavyHitters]]): suppliers carrying strictly more
    * than 1% of lineitem rows — candidate-pruned by a capacity-99 MG
    * summary, then exactly counted, so the output is deterministic
    * whatever the partitioning.
    */
  private def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.HeavyHitters.exact(t(s, dir, "lineitem"), "l_suppkey",
      k = 99, num = 1, den = 100)

  /** WOE / information value of order price against the F-status label
    * ([[graft.profile.Woe]]): 10 fixed-width cent buckets, add-one
    * smoothing, micro-exact IV total.
    */
  private def woeIvQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Woe.report(t(s, dir, "orders"), "o_totalprice",
      col("o_orderstatus") === "F", buckets = 10)
      .orderBy("bucket")

  /** Chi-square association between document language and source
    * ([[graft.profile.InfoTheory.chiSquareAssociation]]) — per-cell
    * contributions plus Cramér's V.
    */
  private def chi2AssocQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.chiSquareAssociation(
      t(s, dir, "documents"), "lang", "source")
      .orderBy("a", "b")

  /** Mann–Kendall monotone-trend test on daily event volume per type
    * ([[graft.operators.Events.mannKendall]]) — exact integer S, 6-dp τ.
    */
  private def trendMkQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.mannKendall(t(s, dir, "events"))
      .orderBy("key")

  /** Lag-1..3 autocorrelation of daily event volume per type
    * ([[graft.operators.Events.autocorrelation]]) — integer-exact
    * deviation sums, one final division.
    */
  private def acfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.autocorrelation(t(s, dir, "events"), maxLag = 3)
      .orderBy("key", "lag")

  /** Theil–Sen robust daily-volume trend slope per type
    * ([[graft.operators.Events.theilSen]]).
    */
  private def theilSenQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.theilSen(t(s, dir, "events"))
      .orderBy("key")

  /** Benford first-digit conformance of order amounts
    * ([[graft.profile.Drift.benfordReport]]) — string-derived digits,
    * micro-exact MAD statistic.
    */
  private def benfordQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Drift.benfordReport(t(s, dir, "orders"), "o_totalprice")
      .orderBy("digit")

  /** Triangle census + clustering coefficient of the synthetic link
    * graph ([[graft.operators.Graph.triangleStats]]) — same edge
    * construction as `w_page_rank` / `w_graph_stats`.
    */
  private def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.triangleStats(e)
  }

  /** Changelog compaction: the LATEST row per (user, event_type) — the
    * SCD1 / upsert-view primitive. Shape matters: ONE struct-max
    * aggregation (ts then event_id orders the struct lexicographically),
    * not a row_number window — a single map-side-combining shuffle
    * replaces the sort-the-world pattern at 100 TB.
    */
  private def latestByKeyQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("event_type"),
        col("__m.ts").as("last_ts"), col("__m.event_id").as("last_event_id"),
        col("__m.value").cast("double").as("last_value"))
      .orderBy("user_id", "event_type")

  /** CSV WRITER round-trip: nation written with full quoting and read
    * back through the robust reader path — checksums must equal the
    * source exactly (the export side of the ingest contract).
    */
  private def csvWriteRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_fixtures/csv_write_${math.abs(dir.hashCode)}"
    val src = t(s, dir, "nation")
    src.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("quoteAll", "true").csv(out)
    s.read.option("header", "true")
      .schema(src.schema).csv(out)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_nationkey")).cast("long").as("key_sum"),
        sum(length(col("n_name"))).cast("long").as("name_len_sum"),
        sum(col("n_regionkey")).cast("long").as("region_sum"))
  }

  /** Per-dimension embedding variance + anisotropy
    * ([[graft.operators.Ann.dimVariance]]).
    */
  private def dimVarianceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.dimVariance(t(s, dir, "embeddings"))
      .orderBy("dim")

  /** Rolling 7-day active users: each user-day contributes to the 7
    * trailing windows via an explode (the scale shape — equi-join on
    * the day, no range join), exact distinct per reported day.
    */
  private def rollingWauQ(s: SparkSession, dir: String): DataFrame = {
    val ud = t(s, dir, "events")
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("d"))
      .distinct()
    val days = ud.select(col("d").as("day")).distinct()
    ud.select(col("user_id"),
        explode(expr("sequence(d, date_add(d, 6))")).as("day"))
      .join(days, "day")
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      .orderBy("day")
  }

  /** ANN recall audit: the sign-LSH bucketed search scored against the
    * exact cosine top-5 — the engine measuring its own index, like
    * `d_lsh_quality` does for MinHash.
    */
  private def annRecallQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val q = embs.filter(col("vec_id") <= 10)
    val exact = Ann.bruteForceTopK(embs, q, 5).select("query_id", "neighbor_id")
    val approx = Ann.bucketedTopK(embs, q, 5).select("query_id", "neighbor_id")
    val hit = approx.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(approx.agg(count(lit(1)).as("n_approx")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_exact"), col("n_approx"), col("n_hit"),
        when(col("n_exact") === 0, lit(0.0))
          .otherwise(round(col("n_hit").cast("double") /
            col("n_exact").cast("double"), 6)).as("recall"))
  }

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

  /** Box-plot profile per returnflag: positional quartiles in exact
    * integer cents, IQR, and Tukey-fence outlier counts (the 1.5·IQR
    * comparison doubled into integer space — no float fence). The rank
    * window is PARTITIONED by the group, so each group sorts
    * independently — the scale-safe per-group order-statistics shape.
    */
  private def boxplotQ(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("c"),
      col("l_orderkey"), col("l_linenumber"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("c"), col("l_orderkey"), col("l_linenumber"))
    val ranked = b.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val quart = ranked.groupBy("grp").agg(
      max(col("m")).as("n"),
      max(when(col("rn") === floor((col("m") + 3) / 4), col("c"))).as("q1"),
      avg(when(col("rn") === floor((col("m") + 1) / 2) ||
        col("rn") === floor(col("m") / 2) + 1, col("c"))).as("median"),
      max(when(col("rn") === floor((col("m") * 3 + 3) / 4), col("c"))).as("q3"))
    val outs = b.join(broadcast(quart.select(col("grp"), col("q1"), col("q3"))), "grp")
      .filter(col("c") * 2 < col("q1") * 2 - (col("q3") - col("q1")) * 3 ||
        col("c") * 2 > col("q3") * 2 + (col("q3") - col("q1")) * 3)
      .groupBy("grp").agg(count(lit(1)).as("n_outliers"))
    quart.join(outs, Seq("grp"), "left")
      .na.fill(0L, Seq("n_outliers"))
      .select(col("grp"), col("n"), col("q1"), col("median"), col("q3"),
        (col("q3") - col("q1")).as("iqr"), col("n_outliers"))
      .orderBy("grp")
  }

  /** Last-touch attribution via the as-of join: each purchase matched
    * to the same user's latest click at-or-before it
    * ([[graft.operators.AsOf.join]]); gap micros summed exactly.
    */
  private def lastTouchQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    graft.operators.AsOf.join(purchases, clicks, Seq("user_id"), "ts",
        Seq("click_id", "click_ts"))
      .agg(count(lit(1)).as("n_purchases"),
        count(col("asof_click_id")).as("n_attributed"),
        sum(unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("asof_click_ts").cast("timestamp")))
          .as("gap_us_sum"))
  }

  /** Information-gain ranking of orders columns vs the status label
    * ([[graft.profile.InfoTheory.infoGainRanking]]) — float columns
    * excluded (double→string casts format differently across engines).
    */
  private def infoGainQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.infoGainRanking(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderdate", "o_orderpriority"), "o_orderstatus")

  /** Edge reciprocity of the synthetic link graph
    * ([[graft.operators.Graph.reciprocity]]).
    */
  private def reciprocityQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.reciprocity(e)
  }

  /** Per-returnflag OLS of price-cents on quantity
    * ([[graft.profile.Regression.groupedOls]]) — exact integer moments.
    */
  private def groupedOlsQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.Regression.groupedOls(t(s, dir, "lineitem"),
      "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("group")

  /** Top-5 three-event user paths ([[graft.operators.Events.topPaths]]).
    */
  private def topPathsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.topPaths(t(s, dir, "events"), k = 5)

  /** Per-label embedding centroid cosines in exact integer micro space
    * ([[graft.operators.Ann.labelCentroidCosines]]) — the
    * cluster-separation report.
    */
  private def embCentroidsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.labelCentroidCosines(t(s, dir, "embeddings"))
      .orderBy("label_a", "label_b")

  /** Deterministic contrastive (anchor, positive) pair generation over
    * the first 50 docs ([[graft.ingest.Augment.contrastivePairs]]).
    */
  private def contrastivePairsQ(s: SparkSession, dir: String): DataFrame =
    graft.ingest.Augment.contrastivePairs(
      t(s, dir, "documents").filter(col("doc_id") < 50))
      .orderBy("doc_id")

  /** LSH quality audit on a bounded 200-doc sample: banded-MinHash
    * pairs vs exact-Jaccard truth at the same τ=0.05 / 3-gram shingles
    * ([[graft.operators.Dedup.lshQualityReport]]).
    */
  private def lshQualityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshQualityReport(
      t(s, dir, "documents").filter(col("doc_id") < 200), threshold = 0.05)

  /** Zipf-law conformance of the token frequency distribution
    * ([[graft.operators.TextAnalysis.zipfFit]]) — integer micro-log OLS.
    */
  private def zipfQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.zipfFit(t(s, dir, "documents"))

  /** Sketch-driven equi-depth binning of order totals
    * ([[graft.profile.QuantileSketch.equiDepthBins]]) — deciles from
    * the mergeable HDR sketch as cut points, realized bin populations
    * as the sketch-accuracy report.
    */
  private def eqfreqBinsQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.QuantileSketch.equiDepthBins(
      t(s, dir, "orders"), "o_totalprice").orderBy("bin")

  /** Join-size estimation report: the System-R uniform-key estimate
    * `|A|·|B| / max(dA, dB)` vs the exact join cardinality — the
    * planner diagnostic behind broadcast/shuffle decisions, all in
    * exact integer space.
    */
  private def joinEstimateQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val a = li.agg(count(lit(1)).as("n_a"),
      countDistinct(col("l_orderkey")).as("d_a"))
    val b = o.agg(count(lit(1)).as("n_b"),
      countDistinct(col("o_orderkey")).as("d_b"))
    val exact = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("exact_rows"))
    a.crossJoin(b).crossJoin(exact)
      .withColumn("est_rows", expr("(n_a * n_b) div greatest(d_a, d_b)"))
      .withColumn("rel_err", round(
        abs(col("est_rows") - col("exact_rows")).cast("double") /
          col("exact_rows").cast("double"), 6))
      .select(col("n_a"), col("n_b"), col("d_a"), col("d_b"),
        col("est_rows"), col("exact_rows"), col("rel_err"))
  }

  /** Connected-component SIZE distribution of the sparse functional
    * link graph (x → 7x+3 mod n is a permutation: pure cycles, several
    * components) — [[graft.operators.Dedup.resolveClusters]]'
    * pointer-jumping labels, histogrammed. The oracle recomputes
    * components by recursive transitive closure.
    */
  private def componentsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").cast("long").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = e.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b")).distinct()
    graft.operators.Dedup.resolveClusters(pairs)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .orderBy("size")
  }

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

  /** Incremental connected components
    * ([[graft.operators.Dedup.mergeClusterLabels]]): the `w_components`
    * edge relation split into two batches — even-src edges resolve to a
    * stored label catalog, odd-src edges fold in through the star-edge
    * merge — and incremental == from-scratch IS the oracle (the
    * `w_components` closure SQL verbatim). */
  private def incrementalClustersQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").cast("long").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
    val pairs = e.select(least(col("src"), col("dst")).as("id_a"),
      greatest(col("src"), col("dst")).as("id_b")).distinct()
    val batch1 = pairs.filter(col("id_a") % 2 === 0)
    val batch2 = pairs.filter(col("id_a") % 2 === 1)
    val catalog = graft.operators.Dedup.resolveClusters(batch1)
    graft.operators.Dedup.mergeClusterLabels(catalog, batch2)
      .groupBy("cluster").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_components"))
      .orderBy("size")
  }

  /** HITS hubs/authorities over the synthetic link graph
    * ([[graft.operators.Graph.hitsInt]]) — integer-ppm, 2 iterations,
    * top 20 authorities.
    */
  private def hitsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.hitsInt(e, nIter = 2)
      .orderBy(col("auth_ppm").desc, col("node")).limit(20)
  }

  /** Binary-segmentation changepoint of daily event volume per type
    * ([[graft.operators.Events.changepoint]]).
    */
  private def changepointQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.changepoint(t(s, dir, "events"))
      .orderBy("key")

  /** First-order event-type transition matrix
    * ([[graft.operators.Events.transitionMatrix]]).
    */
  private def transitionsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.transitionMatrix(t(s, dir, "events"))
      .orderBy("from_type", "to_type")

  /** Two-proportion A/B z-test: purchase conversion of even- vs
    * odd-numbered users ([[graft.operators.Events.abTest]]).
    */
  private def abTestQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.abTest(t(s, dir, "events"))

  /** Spearman rank agreement between two supplier rankings — revenue
    * vs order volume ([[graft.search.Evaluation.spearman]]).
    */
  private def rankCorrQ(s: SparkSession, dir: String): DataFrame = {
    val items = t(s, dir, "lineitem").groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("revenue"),
        count(lit(1)).as("volume"))
    graft.search.Evaluation.spearman(items, "l_suppkey", "revenue", "volume")
  }

  /** Deterministic 5-fold cross-validation assignment over documents
    * ([[graft.sources.Splits.kFold]]) — per (fold, lang) counts with an
    * id checksum pinning the exact assignment.
    */
  private def kFoldQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Splits.kFold(t(s, dir, "documents"), "doc_id", 5)
      .groupBy("fold", "lang")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy("fold", "lang")

  /** Incremental-maintenance path: profile supplier in two key-parity
    * chunks, merge, emit the mergeable fields. The oracle computes the
    * same profile from the FULL table — green iff chunked profiling is
    * indistinguishable from a from-scratch scan (the 100 TB append
    * story). HLL state is engine-internal and excluded here; its bound
    * is spec'd in IncrementalSpec.
    */
  private def incrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val full = t(s, dir, "supplier")
    val chunks = Seq(full.filter(col("s_suppkey") % 2 === 0),
      full.filter(col("s_suppkey") % 2 === 1))
      .map(graft.profile.Incremental.profileChunk(_, "supplier"))
      .reduce(_ unionByName _)
    graft.profile.Incremental.merge(chunks)
      .select(col("table_name"), col("col_idx"), col("rows"), col("num_nan"),
        array_join(col("minhash_exact"), ",").as("mh_exact"),
        col("min_v"), col("max_v"))
      .orderBy("col_idx")
  }

  /** Mergeable quantile sketch (HDR-style exponential histogram over
    * micro-quantized values — the incremental/streaming answer to the
    * 13-vector's nine exact quantiles, `data_prep.py:234-244`): chunk
    * orders three ways by key parity, sketch each chunk, merge, read
    * the deciles back. The oracle replays the IDENTICAL integer bucket
    * arithmetic over the FULL table — green iff chunked sketching is
    * indistinguishable from from-scratch (merge invariance) AND the
    * bucket/midpoint math matches bit-for-bit.
    */
  private def quantileSketchQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.QuantileSketch
    val full = t(s, dir, "orders")
    val chunks = (0 to 2).map(r => QuantileSketch.sketchChunk(
      full.filter(pmod(col("o_orderkey"), lit(3)) === r), "orders"))
      .reduce(_ unionByName _)
    QuantileSketch.deciles(QuantileSketch.merge(chunks))
      .orderBy("col_idx", "decile")
  }

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

  /** LLM-pipeline: token-budget accounting per (source, lang) — corpus
    * shares, τ=0.5 temperature weights and the planned allocation of a
    * 100k-token budget. Counts exact; each ratio one IEEE division. */
  private def tokenBudgetQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.tokenBudgetPlan(t(s, dir, "documents"),
      Seq("source", "lang"), token_count(col("text")), budget = 100000L)
      .orderBy("source", "lang")

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

  /** Compute-optimal plan
    * ([[graft.operators.Sampling.chinchillaPlan]]): the Chinchilla
    * N-opt / D-opt table over an exaFLOP budget grid vs this corpus's
    * token supply under the 4-epoch repeat ceiling. */
  private def chinchillaPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.chinchillaPlan(t(s, dir, "documents"),
      token_count(col("text")))
      .orderBy("flops_exa")

  /** DoReMi-flavored mix update
    * ([[graft.operators.Sampling.domainReweight]]): per-language excess
    * bigram-LM loss vs the corpus mean, one exact-integer linearized
    * multiplicative-weights step on the baseline bigram-mass shares. */
  private def domainReweightQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.domainReweight(t(s, dir, "documents"))
      .orderBy("domain")

  /** Link-centrality weighting (integer PageRank): a deterministic
    * heterogeneous graph over document ids — a permutation-ish family
    * ((7i+3)%N) plus a hub family (i%31, ~N/31 in-degree each), so
    * ranks genuinely differentiate. 3 iterations in exact ppm space —
    * DuckDB replays the unrolled loop; top-20 pins exact rank values. */
  private def pageRankQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.pagerankInt(e, nIter = 3)
      .orderBy(col("rank_ppm").desc, col("node")).limit(20)
  }

  /** Community detection over the `w_page_rank` link graph
    * ([[graft.operators.Graph.labelPropagation]], 3 synchronous
    * rounds): the site-cluster pass that caps or weights whole
    * communities where `w_components` would over-merge through
    * bridges. Output = community-size histogram with exact label
    * checksums; the oracle replays the unrolled rounds. */
  /** Web-graph coreness histogram ([[graft.operators.Graph.kCore]]):
    * 8 synchronous h-operator rounds on the same synthetic doc graph as
    * [[labelPropQ]], reported as (coreness, n_nodes, node_checksum). */
  private def kCoreQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.kCore(e, nIter = 8)
      .groupBy("coreness").agg(count(lit(1)).as("n_nodes"),
        sum(col("node")).as("node_checksum"))
      .orderBy("coreness")
  }

  private def labelPropQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.labelPropagation(e, nIter = 3)
      .groupBy("label").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_communities"),
        sum(col("label")).as("label_checksum"))
      .orderBy("size")
  }

  /** Web-graph shape: in-degree distribution of the same synthetic link
    * graph `w_page_rank` ranks — the power-law fingerprint a curation
    * pipeline checks before trusting link-centrality weights.
    */
  private def graphStatsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val n = docs.select(count(lit(1)).as("n"))
    val e = docs.crossJoin(broadcast(n)).select(
        col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % col("n")).as("dst"))
      .union(docs.select(col("doc_id"), col("doc_id") % 31))
    graft.operators.Graph.inDegreeDistribution(e)
      .orderBy("in_deg")
  }

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

  /** LLM-pipeline: quality-aware canonical selection per near-dup
    * cluster — keep the longest member (n_chars, tie → min id) instead
    * of an arbitrary representative. */
  private def clusterCanonicalQ(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.05, bands = 20)
    Dedup.canonicalPerCluster(docs, pairs, "n_chars")
      .orderBy("cluster")
  }

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

  /** Z-order layout: Morton-interleaved (c_custkey, c_acctbal) z-values
    * — exact integer quantize→scale→interleave on both engines; bucket
    * counts + key checksums pin every row's position on the curve. The
    * write path (`Layout.zorderWrite`) range-partitions this exact
    * column, spec'd for file-pruning effect in `LayoutSpec`.
    */
  private def zorderQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.withZValue(
      t(s, dir, "customer"), Seq("c_custkey", "c_acctbal"), bitsPerDim = 8)
      .groupBy(shiftright(col("__z"), 10).as("z_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_custkey")).cast("long").as("key_checksum"))
      .orderBy("z_bucket")

  /** Trained-IVF ANN: deterministic Lloyd's k-means (exact integer
    * micro-space — partitioning/order-independent) trains 8 cells in 3
    * iterations; queries probe their 2 nearest cells; members score by
    * full-precision cosine. The oracle replays every training iteration
    * (unrolled), the assignments, and the search bit-for-bit.
    */
  private def annKmeansIvf(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    Ann.kmeansIvfTopK(embs, embs.filter(col("vec_id") <= 10),
      k = 5, kCells = 8, iters = 3, nProbe = 2)
      .orderBy("query_id", "rank")
  }

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

  /** Poisson-bootstrap confidence interval for a profile statistic —
    * THE web-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    * for Massive Data Streams", Google TR 2012): instead of resampling
    * rows (impossible distributed), every row gets an independent
    * Poisson(1) weight per replica, so all B replicas ride ONE pass and
    * one groupBy(replica). Determinism: the weight is inverse-CDF over
    * the row's md5-uniform (`md5_low32(pk:boot:b)` vs hard-coded
    * integer thresholds floor(cdf_k·2³²) — EXACT integer comparisons,
    * zero transcendentals at eval time, engine/partitioning/run
    * invariant). Replica means divide two exact longs then round 6; the
    * CI is POSITIONAL over the 32 sorted replica means (ranks 2/16/31 —
    * single elements, never an average of two, which could land on a
    * 7th-decimal half where Spark and DuckDB round differently). */
  private def bootstrapCiQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SketchFunctions.md5_low32
    val B = 32
    // Poisson(1) CDF at k=0..5, scaled to 2^32 (shared literals — the
    // approximation cap at 6 is part of the pinned definition)
    val thresholds = Seq(1580030168L, 3160060337L, 3950075421L,
      4213413783L, 4279248373L, 4292415291L)
    // the price is a 2-dp value stored as DOUBLE: the decimal(18,2)
    // cast rounds it identically on both engines BEFORE the ×100, where
    // a raw double×100→long would truncate here and round in DuckDB
    val li = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val u = md5_low32(concat_ws(":",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      lit("boot"), col("b").cast("string")))
    val w = thresholds.map(t => (u >= lit(t)).cast("long")).reduce(_ + _)
    val means = li
      // spread BEFORE the B× explode: the scan is 1-2 input splits at
      // bench scale, and without this the 19.2M hash rows run on 2 of
      // 32 cores (measured 25.7 s → ~2 s; a 600k-row shuffle is noise).
      // At cluster scale the scan has many splits and AQE may coalesce
      // this exchange away — the explicit spread guards the small end.
      .repartition(32)
      .select(col("l_orderkey"), col("l_linenumber"), col("cents"),
        explode(sequence(lit(0), lit(B - 1))).as("b"))
      .select(col("b"), col("cents"), w.as("w"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
      .select(round(col("swc").cast("double") / (col("sw") * 100.0), 6).as("mean"))
      .agg(sort_array(collect_list(col("mean"))).as("ms"))
      .select(element_at(col("ms"), 2).as("boot_lo"),
        element_at(col("ms"), 16).as("boot_mid"),
        element_at(col("ms"), 31).as("boot_hi"))
    val point = li.agg(count(lit(1)).as("n_rows"),
      round(sum(col("cents")).cast("double") / (count(lit(1)) * 100.0), 6)
        .as("point_mean"))
    point.crossJoin(means)
      .select(col("n_rows"), lit(B.toLong).as("n_replicas"),
        col("point_mean"), col("boot_lo"), col("boot_mid"), col("boot_hi"))
  }

  /** Dominant principal direction + explained-variance share of the
    * embedding corpus — the All-but-the-top anisotropy report
    * ([[graft.operators.Ann.powerIterationPca]]); 4 exact-integer power
    * rounds, the DuckDB oracle replays every round. */
  private def pcaPowerQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.powerIterationPca(t(s, dir, "embeddings"), nIter = 4)
      .orderBy("dim")

  /** C4 page-cleaning funnel per language
    * ([[graft.operators.TextAnalysis.c4Filter]]). Pages are synthesized
    * deterministically from the token stream (8-token lines; line i gets
    * a terminal '.' when (doc_id+i) % 4 ≠ 0; code / lorem-ipsum /
    * policy-word lines injected by doc_id residue — the t_pii_scrub
    * synthesis precedent), so every rule actually discriminates on this
    * corpus; the oracle rebuilds the identical pages and replays the
    * rules. */
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

  private def c4FiltersQ(s: SparkSession, dir: String): DataFrame =
    c4Rollup(graft.operators.TextAnalysis.c4Filter(
      c4Pages(t(s, dir, "documents")),
      graft.operators.TextAnalysis.C4Rules(badWords = Seq("unsafeword"))))
      .orderBy("lang")

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

  /** All-but-the-top removal report
    * ([[graft.operators.Ann.abttReport]]) — before/after variance and
    * axis anisotropy of projecting the top component out. */
  private def abttQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.abttReport(t(s, dir, "embeddings"), nIter = 4)

  /** Matryoshka truncation screen
    * ([[graft.operators.Ann.matryoshkaReport]]): exact top-5 overlap of
    * the 16- and 32-dim prefixes against the full 64-dim ranking over
    * the standard vec_id ≤ 10 query set. */
  private def matryoshkaQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Ann.matryoshkaReport(
      embs, embs.filter(col("vec_id") <= 10), dims = Seq(16, 32, 64), k = 5)
      .orderBy("dim_prefix")
  }

  /** Greedy k-center coreset over the embedding table
    * ([[graft.operators.Ann.kCenterCoreset]]): 8 farthest-point picks
    * with exact-integer cosine-distance gains — the diversity-seeking
    * data-selection seat beside [[semDedup]]-style redundancy removal. */
  private def kCenterQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.kCenterCoreset(t(s, dir, "embeddings"), k = 8)
      .orderBy("sel_order")

  /** JL signed-projection screen
    * ([[graft.operators.Ann.jlOverlapReport]]): 64→16-dim ±1
    * projection, top-5 neighborhood overlap vs full-dim — the
    * mixes-all-dims sibling of the emb_matryoshka truncation screen. */
  private def jlOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Ann.jlOverlapReport(
      embs, embs.filter(col("vec_id") <= 10), dOut = 16, dIn = 64, k = 5)
  }

  /** Box-filter resize over REAL decoded rasters (PNG inflate+unfilter,
    * GIF LZW — [[graft.multimodal.Multimodal.resizeStats]]): per-image
    * resized dims, channel means of the resized raster, exact integer
    * checksum; the oracle replays the truncating box average from the
    * generative pixel formulas. */
  private def mmResizeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = ((1 to 12).map { i =>
      (i.toLong, graft.multimodal.SyntheticMedia.pngFull(
        8 + (i % 5) * 3, 6 + (i % 4) * 2, (i * 17) % 251))
    } ++ (13 to 18).map { i =>
      (i.toLong, graft.multimodal.SyntheticMedia.gifFull(
        7 + (i % 4) * 5, 5 + (i % 3) * 4, (i * 29) % 101))
    }).toDF("media_id", "payload")
    def chMean(n: Int) = when(size(col("channel_means")) >= n,
      round(element_at(col("channel_means"), n), 6))
    graft.multimodal.Multimodal.resizeStats(media, factor = 2)
      .select(col("media_id"),
        col("rs_width").cast("long").as("rs_width"),
        col("rs_height").cast("long").as("rs_height"),
        chMean(1).as("mean_r"), chMean(2).as("mean_g"), chMean(3).as("mean_b"),
        col("checksum"))
      .orderBy("media_id")
  }

  /** Weekday seasonality profile per event type
    * ([[graft.operators.Events.weekdaySeasonality]]). */
  private def seasonalityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.weekdaySeasonality(t(s, dir, "events"))
      .orderBy("event_type", "dow")

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

  /** Mutual-kNN graph health report
    * ([[graft.operators.Ann.knnGraphReport]], k=5). */
  private def knnGraphQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.knnGraphReport(t(s, dir, "embeddings"), k = 5)

  /** kNN label-agreement (noisy-label screen,
    * [[graft.operators.Ann.labelAgreement]], k=5). */
  private def labelAgreementQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.labelAgreement(t(s, dir, "embeddings"), k = 5)
      .orderBy("label")

  /** IVF cell-balance report ([[graft.operators.Ann.cellSizes]], the
    * trained 8-cell index over the embeddings corpus). */
  private def cellBalanceQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ann.cellSizes(t(s, dir, "embeddings"), k = 8, iters = 3)
      .orderBy("cell")

  /** J3 ranking-quality extension: MAP@5 — same fixture as
    * j3_search_eval/j3_ndcg/j3_mrr, truncating-integer average
    * precision. */
  private def searchMapQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.averagePrecisionAtK(results, truth, 5)
      .orderBy("query")
  }

  /** J3 ranking-quality extension: MRR@5 of the same brute-force search
    * vs label-mates ground truth as `j3_search_eval`/`j3_ndcg` —
    * first-relevant-position where nDCG is graded; reciprocal ranks in
    * exact integer micro-units. */
  private def searchMrrQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    val results = Ann.bruteForceTopK(embs, embs.filter(col("vec_id") <= 10), k = 5)
      .select(col("query_id").cast("string").as("query"),
        col("neighbor_id").cast("string").as("candidate"), col("rank"))
    val truth = embs.filter(col("vec_id") <= 10)
      .select(col("vec_id"), col("label"))
      .join(embs.select(col("label"), col("vec_id").as("nid")), "label")
      .filter(col("vec_id") =!= col("nid"))
      .groupBy(col("vec_id").cast("string").as("query"))
      .agg(collect_list(col("nid").cast("string")).as("expected"))
    graft.search.Evaluation.mrrAtK(results, truth, 5).orderBy("query")
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

  /** §2.12 streaming CDC apply: the events changelog (delete when
    * event_id % 7 == 0) streams in as 4 files, one micro-batch each
    * (maxFilesPerTrigger=1) in ARBITRARY key order; each batch folds
    * into the running state via
    * [[graft.operators.Merge.upsertLww]] — commutative and associative,
    * so ANY batch split converges to the one-shot compaction, and
    * tombstones persist so a late-arriving older upsert cannot
    * resurrect a delete. The oracle replays the one-shot latest-per-key
    * compaction over all events. */
  private def streamingUpsertQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_upsert_${streamSeq.incrementAndGet()}"
    val srcDir = s"/tmp/graft_fixtures/st_upsert_${math.abs(dir.hashCode)}/src"
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value").cast("double").as("value"))
      .withColumn("op",
        when(col("event_id") % 7 === 0, lit("delete")).otherwise(lit("upsert")))
    ev.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = s.read.parquet(srcDir).schema
    var state = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = graft.operators.Merge.upsertLww(state, batch,
          Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .localCheckpoint(true)
        ()
      }
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    graft.operators.Merge.liveView(state)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("user_id")).as("user_checksum"),
        sum(col("event_id")).as("event_checksum"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

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

  /** Corpus n-gram entropy rate
    * ([[graft.operators.TextAnalysis.ngramEntropy]]) — the
    * predictability screen beside t_zipf. */
  private def ngramEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.ngramEntropy(t(s, dir, "documents"))

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

  /** MERGE upsert ([[graft.operators.Merge.upsert]]): even-id events
    * compact to the keyed target snapshot; odd-id events form the
    * changelog (delete when event_id % 7 == 0); per-type checksums pin
    * the exact merged state. */
  private def mergeUpsertQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value").cast("double").as("value"))
    val target = ev.filter(col("event_id") % 2 === 0)
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("__m"))
      .select(col("user_id"), col("event_type"), col("__m.ts").as("ts"),
        col("__m.event_id").as("event_id"), col("__m.value").as("value"))
    val changes = ev.filter(col("event_id") % 2 === 1)
      .withColumn("op",
        when(col("event_id") % 7 === 0, lit("delete")).otherwise(lit("upsert")))
    val merged = graft.operators.Merge.upsert(target, changes,
      Seq("user_id", "event_type"), Seq("ts", "event_id"))
    merged.groupBy("event_type")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("user_id")).as("user_checksum"),
        sum(col("event_id")).as("event_checksum"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .orderBy("event_type")
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

  /** LLM-pipeline: URL canonicalization + dedup — four surface forms of
    * the same logical URL (case, www, default port, userinfo, tracking
    * params, param order, trailing slash, fragment) collapse to one
    * canonical key; documents sharing an item collapse across rows. */
  private def urlDedupQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Web
    val item = (col("doc_id") % 97).cast("string")
    val docs = t(s, dir, "documents").withColumn("url",
      when(col("doc_id") % 4 === 0,
        concat(lit("https://shop.example.com/item/"), item, lit("?a=1&b=2")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://WWW.Shop.Example.COM:443/item/"), item, lit("?b=2&a=1")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://shop.example.com/item/"), item,
          lit("/?a=1&utm_source=news&b=2#top")))
      .otherwise(
        concat(lit("https://user@shop.example.com:443/item/"), item,
          lit("?fbclid=xyz&a=1&b=2"))))
    Web.urlDedup(docs, "url", "doc_id").orderBy("url_canon")
  }

  /** Corpus sink roundtrip: write documents hive-partitioned by lang
    * into 4 deterministic hash shards with a manifest, read the files
    * back, reconcile against the manifest, and report only shards whose
    * counts AND checksums agree — any write/manifest drift drops rows
    * and fails the compare. The oracle recomputes the shard assignment
    * from the hash formula. */
  private def corpusSinkQ(s: SparkSession, dir: String): DataFrame = {
    import graft.store.CorpusSink
    val out = "/tmp/graft_fixtures/corpus_sink"
    CorpusSink.write(
      t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars"),
      out, Seq("lang"), "doc_id", nShards = 4)
    CorpusSink.reconcile(s, out, Seq("lang"), "doc_id")
      .filter(col("ok"))
      .select(col("lang"), col("shard").cast("long").as("shard"),
        col("rows_manifest").as("n_rows"),
        col("checksum_manifest").as("id_checksum"))
      .orderBy("lang", "shard")
  }

  /** S7-family, ORC arm: the corpus sink writing ORC instead of parquet
    * — same hive-partitioned, hash-sharded, manifested layout, different
    * columnar codec. The read-back aggregation proves ORC data fidelity
    * (ids, text bytes) and the reconcile count proves the manifest
    * matches what the ORC files actually hold. */
  private def orcRoundtripQ(s: SparkSession, dir: String): DataFrame = {
    import graft.store.CorpusSink
    val out = "/tmp/graft_fixtures/corpus_sink_orc"
    CorpusSink.write(
      t(s, dir, "documents").select("doc_id", "lang", "text"),
      out, Seq("lang"), "doc_id", nShards = 2, salt = "orc0", format = "orc")
    val ok = CorpusSink.reconcile(s, out, Seq("lang"), "doc_id", format = "orc")
      .filter(col("ok")).agg(count(lit(1)).as("n_ok_shards"))
    s.read.orc(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("id_checksum"),
        sum(length(col("text"))).cast("long").as("text_chars"))
      .crossJoin(broadcast(ok))
      .orderBy("lang")
  }

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

  /** LLM-pipeline: benchmark decontamination — per-doc 3-gram overlap of
    * the corpus (doc_id > 5) against the "eval set" (doc_id ≤ 5). */
  private def decontamReport(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Decontamination.overlapReport(
      docs.filter(col("doc_id") > 5), docs.filter(col("doc_id") <= 5),
      n = 3, threshold = 0.2)
      .orderBy("id")
  }

  /** Profile: per-column Shannon entropy (key-likeness signal) over a
    * low-card flag, a mid-card dimension, and the near-key orderkey —
    * integer micro-nat sums, so the oracle replays bit-for-bit.
    */
  private def colEntropyQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.columnEntropy(t(s, dir, "lineitem"),
      Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey"))
      .orderBy("col_name")

  /** LLM-pipeline: EXACT Jaccard ≥ 0.7 near-dup pairs over 3-shingles —
    * PPJoin-style prefix filtering, no LSH, nothing missed; candidates
    * shuffle on rare prefix tokens only.
    */
  private def ppjoinPairsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.exactJaccardSelfJoin(
      t(s, dir, "documents"), threshold = 0.7, n = 3)
      .orderBy("id_a", "id_b")

  /** LLM-pipeline: collocation mining — top-20 adjacent-word pairs by
    * PMI over the corpus (6-dp ln of one exact-integer-product ratio).
    */
  private def collocationsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.collocations(t(s, dir, "documents"), k = 20)

  /** ML-pipeline: calibration (reliability) report — cosine similarity
    * rescaled to [0,1] as a "same-label" score, binned into deciles;
    * per bin the mean score (decimal-exact) vs the empirical match
    * rate. A calibrated scorer tracks the diagonal.
    */
  private def calibrationQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Ann.{dot, norm}
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = e.select(col("vec_id").as("qid"), col("label").as("ql"),
      col("v").as("qv"), col("nrm").as("qn")).filter(col("qid") <= 30)
    val scored = q.join(e, col("qid") < col("vec_id"))
      .withColumn("cos", when(col("qn") * col("nrm") === 0, lit(0.0))
        .otherwise(round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)))
      .withColumn("score", (col("cos") + 1) / 2)
      .withColumn("bin", least(lit(9L), floor(col("score") * 10).cast("long")))
      .withColumn("hit", (col("ql") === col("label")).cast("long"))
    scored.groupBy("bin").agg(
      count(lit(1)).as("n_pairs"),
      (sum(col("score").cast("decimal(18,7)")).cast("double") /
        count(lit(1))).as("avg_score"),
      round(sum(col("hit")).cast("double") / count(lit(1)), 6).as("match_rate"))
      .withColumn("avg_score", round(col("avg_score"), 6))
      .orderBy("bin")
  }

  /** ML-pipeline: class-balance report over the embedding labels —
    * per-class counts and sklearn-style balanced weights n/(k·n_c).
    */
  private def classWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val counts = e.groupBy("label").agg(count(lit(1)).as("n_label"))
    val tot = counts.agg(sum(col("n_label")).as("n"),
      count(lit(1)).as("k"))
    counts.crossJoin(broadcast(tot))
      .select(col("label"), col("n_label"),
        round(col("n").cast("double") /
          (col("k") * col("n_label")).cast("double"), 6).as("weight"))
      .orderBy("label")
  }

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

  /** Profile: candidate-key discovery over orders' non-key columns —
    * uniqueness ratio of every single and pair combo.
    */
  private def keyDiscoveryQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.keyDiscovery(t(s, dir, "orders"),
      Seq("o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"))
      .orderBy("key_cols")

  /** Profile: declarative data-quality checks over orders — one pass
    * for all row-local rules, plus uniqueness and FK integrity; the
    * in_range rule is tuned to catch real violations (prices above
    * 400k exist).
    */
  private def qualityChecksQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Checks
    import graft.profile.Checks._
    Checks.run(t(s, dir, "orders"), Seq(
      NotNull("o_orderkey"), Unique("o_orderkey"),
      InRange("o_totalprice", 0.0, 400000.0),
      InSet("o_orderstatus", Seq("F", "O", "P")),
      MatchesRegex("o_orderpriority", "^[1-5]-.*"),
      RefIntegrity("o_custkey", t(s, dir, "customer"), "c_custkey")))
      .orderBy("rule", "column")
  }

  /** Profile: PSI distribution drift of event `value` — purchase-type
    * traffic (current) vs view-type (baseline), 10 fixed-width cent
    * buckets from the baseline's range, Laplace-smoothed shares.
    */
  private def psiDriftQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    graft.profile.Drift.psiReport(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"),
      "value")
  }

  /** Profile: inclusion-dependency scan over the TPC-H key/FK columns —
    * the foreign-key discovery pass; every true FK⊆PK edge surfaces at
    * containment 1.0.
    */
  private def indScanQ(s: SparkSession, dir: String): DataFrame = {
    val cands = Seq(
      ("nation", "n_nationkey"), ("nation", "n_regionkey"),
      ("region", "r_regionkey"),
      ("customer", "c_custkey"), ("customer", "c_nationkey"),
      ("supplier", "s_suppkey"), ("supplier", "s_nationkey"),
      ("orders", "o_orderkey"), ("orders", "o_custkey"),
      ("lineitem", "l_orderkey"), ("lineitem", "l_suppkey"))
      .map { case (tbl, c) => (tbl, t(s, dir, tbl), c) }
    graft.profile.InfoTheory.indScan(cands, minContainment = 0.95)
      .orderBy("src", "dst")
  }

  /** Profile: approximate functional-dependency scan (TANE g3 error)
    * over orders — the key column proves exact FDs, custkey/status/
    * priority give the approximate spectrum.
    */
  private def fdScanQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.fdScan(t(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      .orderBy("lhs", "rhs")

  /** Profile: mutual information between the classic correlated TPC-H
    * pair (returnflag, linestatus) — the soft-functional-dependency
    * probe a join planner reads.
    */
  private def entropyMiQ(s: SparkSession, dir: String): DataFrame =
    graft.profile.InfoTheory.mutualInformation(
      t(s, dir, "lineitem"), "l_returnflag", "l_linestatus")

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

  /** LLM-pipeline: semantic decontamination — per corpus embedding, the
    * best-cosine benchmark match (eval set = vec_id <= 50, broadcast)
    * and the leakage flag at 0.35; catches paraphrase-level leakage the
    * n-gram guard in `d_decontam_report` cannot.
    */
  private def semanticDecontamQ(s: SparkSession, dir: String): DataFrame = {
    val embs = t(s, dir, "embeddings")
    graft.operators.Decontamination.semanticOverlapReport(
      embs.filter(col("vec_id") > 50), embs.filter(col("vec_id") <= 50),
      threshold = 0.35)
      .orderBy("id")
  }

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

  /** Profile: relational HLL distinct estimate vs exact, per lang, over
    * 3-word shingles — the estimate column is oracle-replayed register
    * by register (integer-space harmonic sum, no FP summation order).
    */
  private def hllDistinctQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Hll
    val sh = t(s, dir, "documents").select(col("lang"),
      explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), 3))).as("sh"))
    val spec = Hll.HllSpec(p = 8)
    val est = Hll.estimate(Hll.registers(sh, "sh", spec, Seq("lang")), spec, Seq("lang"))
    val exact = sh.distinct().groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, "lang").orderBy("lang")
  }

  /** Profile: KMV (k-minimum-values) distinct estimate vs exact, per
    * lang, over the same 3-word shingles as [[hllDistinctQ]] — the
    * retained-hash sketch is oracle-replayed hash by hash.
    */
  private def kmvDistinctQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Kmv
    val sh = t(s, dir, "documents").select(col("lang"),
      explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), 3))).as("sh"))
    val spec = Kmv.KmvSpec(k = 256)
    val est = Kmv.estimate(Kmv.sketch(sh, "sh", spec, Seq("lang")), spec, Seq("lang"))
    val exact = sh.distinct().groupBy("lang").agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, "lang").orderBy("lang")
  }

  /** Profile: KMV set algebra — union / intersection / Jaccard estimates
    * between every lang pair's shingle sets, from the sketches alone
    * (the capability HLL registers cannot offer), vs the exact values.
    */
  private def kmvSetOpsQ(s: SparkSession, dir: String): DataFrame = {
    import graft.profile.Kmv
    val sh = t(s, dir, "documents").select(col("lang"),
      explode(array_distinct(
        graft.functions.TextFunctions.word_shingles(col("text"), 3))).as("sh"))
    val spec = Kmv.KmvSpec(k = 256)
    val est = Kmv.setEstimates(Kmv.sketch(sh, "sh", spec, Seq("lang")), "lang", spec)
    val d = sh.distinct()
    val exact = d.select(col("lang").as("ga"), col("sh"))
      .join(d.select(col("lang").as("gb"), col("sh")), "sh")
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("exact_intersect"))
    est.join(exact, Seq("ga", "gb"), "left")
      .na.fill(0L, Seq("exact_intersect"))
      .orderBy("ga", "gb")
  }

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

  /** LLM-pipeline: Flesch–Kincaid readability per doc
    * ([[operators.TextAnalysis.readability]]) — exact word/sentence/
    * vowel-group syllable counts, the two classic scores. */
  private def readabilityQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.readability(t(s, dir, "documents"))
      .orderBy("doc_id")

  /** LLM-pipeline: TextRank top-20 keywords
    * ([[operators.TextAnalysis.textrankKeywords]]) — exact-integer
    * PageRank over the corpus word co-occurrence graph. */
  private def textrankQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.textrankKeywords(t(s, dir, "documents"))
      .orderBy("rank_pos")

  /** LLM-pipeline: top-100 bigram PMI collocations at min support 5
    * ([[operators.TextAnalysis.pmiCollocations]]) — the phrase-mining
    * signal for tokenizer vocab seeding. */
  private def pmiBigramsQ(s: SparkSession, dir: String): DataFrame =
    operators.TextAnalysis.pmiCollocations(t(s, dir, "documents"))
      .orderBy("rank")

  /** LLM-pipeline: per-doc TF-IDF top-5 terms (smooth idf, 6-dp-rounded
    * transcendental, term-ascending tiebreak). */
  private def tfidfTermsQ(s: SparkSession, dir: String): DataFrame =
    graft.search.TextSearch.tfidfTopTerms(t(s, dir, "documents"), topK = 5)
      .orderBy("doc_id", "rank")

  /** LLM-pipeline: sequence-length histogram + padding waste at
    * max_len 64, 16-token bins — the packing-planning report. */
  private def lengthHistogramQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lengthHistogram(t(s, dir, "documents"),
        binTokens = 16, maxLen = 64)
      .orderBy("bin")

  /** LLM-pipeline: n-gram novelty — fraction of each doc's distinct
    * 3-grams unique to it corpus-wide (df == 1). */
  private def ngramNoveltyQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramNovelty(t(s, dir, "documents"), n = 3)
      .filter(col("id") <= 100)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"), col("novelty"))
      .orderBy("doc_id")

  /** LLM-pipeline: per-doc repetition metrics (Gopher rule family). */
  private def repetitionMetricsQ(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionMetrics(
      t(s, dir, "documents").filter(col("doc_id") <= 200))
      .orderBy("doc_id")

  /** LLM-pipeline: Gopher-style quality filter, reported per language. */
  private def lrQualityRules = TextAnalysis.QualityRules(
    minTokens = 30, maxTokens = 5000,
    minMeanTokenLen = 3.0, maxMeanTokenLen = 4.8, maxPunctRatio = 0.1)

  private def lrQualityWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val labels = TextAnalysis.qualityFilter(docs, lrQualityRules)
      .select(col("doc_id").as("id"), col("keep").cast("long").as("y"))
    graft.ml.QualityDistill.trainHardSigmoidLr(
      graft.ml.QualityDistill.hashedFeatures(docs), labels)
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

  /** The trained hard-sigmoid LR weight vector itself (9 rows: 8
    * hashed dims + intercept) — pins training bit-exactly. */
  private def lrQualityWeightsQ(s: SparkSession, dir: String): DataFrame =
    lrQualityWeights(s, dir).orderBy("dim")

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

  /** Engine extension: as-of join — each click enriched with the user's
    * latest prior purchase value (DuckDB's native ASOF JOIN verifies). */
  /** §2.6 reshaping: status × priority pivot matrix (explicit value
    * list, so the plan is static); absent combinations are 0. */
  private def pivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("o_orderstatus")

  /** §2.6 reshaping: unpivot (melt) of three lineitem measures into
    * (metric, n, total) — totals summed as exact decimals, so no FP
    * summation order. */
  private def unpivotQ(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric", "val")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        sum(col("val").cast("decimal(18,4)")).cast("double").as("total"))
      .orderBy("metric")

  /** Event analytics: time-decayed engagement — per user
    * Σ value·2^(−age_days) (1-day half-life) as of the stream's end;
    * the one transcendental (pow) is 6-dp-rounded per event and terms
    * are integer-micro summed, so the ranking replays engine-exactly.
    * Top-20 users via TakeOrdered.
    */
  private def decayedEngagementQ(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("es", unix_timestamp(col("ts")))
    val maxE = ev.agg(max(col("es")).as("max_es"))
    ev.crossJoin(broadcast(maxE))
      .withColumn("decay",
        round(pow(lit(0.5), (col("max_es") - col("es")).cast("double") / lit(86400.0)), 6))
      .withColumn("tm", floor(col("value") * col("decay") * lit(1000000.0)).cast("long"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("tm")).cast("double") / lit(1000000.0), 6).as("decayed_value"))
      .orderBy(col("decayed_value").desc, col("user_id"))
      .limit(20)
  }

  /** Event analytics: robust median/MAD outlier report (Hampel k=3) per
    * event_type over `value` — medians taken in exact integer cent
    * space, so interpolation is bitwise engine-identical.
    */
  private def madOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Anomaly.madOutlierReport(
      t(s, dir, "events"), "value", Seq("event_type"))
      .orderBy("event_type")

  /** Event analytics: ordered view→click→purchase funnel — each stage's
    * clock starts at the user's earliest completion of the previous
    * stage. */
  private def funnelQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.funnel(t(s, dir, "events"),
      Seq("view", "click", "purchase")).orderBy("step_idx")

  /** Event analytics: weekly cohort retention matrix over the 30-day
    * event stream (5 ISO-week cohorts). */
  private def cohortRetentionQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Events.cohortRetention(t(s, dir, "events"))
      .orderBy("cohort_week", "week_offset")

  /** Event analytics: hourly LOCF resample of 8 users' value series —
    * grid via sequence(), carry via the as-of join (one key shuffle,
    * no range explosion). */
  private def resampleLocfQ(s: SparkSession, dir: String): DataFrame = {
    val obs = t(s, dir, "events").filter(col("user_id") < 8)
      .groupBy("user_id", "ts").agg(max(col("value")).as("value"))
    graft.operators.Events.resampleLocf(obs, "user_id", "ts", "value")
      .select(col("user_id"), col("ts"),
        round(col("asof_value"), 6).as("asof_value"))
      .orderBy("user_id", "ts")
  }

  private def asofEnrich(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "ts", "user_id")
    // right side unique per (user_id, ts): max value on exact-tie stamps
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
    graft.operators.AsOf.join(clicks, purchases,
      keyCols = Seq("user_id"), tsCol = "ts", payloadCols = Seq("purchase_value"))
      .select(col("event_id"), col("user_id"),
        round(col("asof_purchase_value"), 6).as("asof_purchase_value"))
      .orderBy("event_id")
  }

  /** Engine extension: range join — customers whose balance falls in each
    * supplier's [s_acctbal, s_acctbal+100] bracket, via bucketized
    * equi-join (no cross-product nested loop). */
  private def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val custs = t(s, dir, "customer").select("c_custkey", "c_acctbal")
    val brackets = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("lo"),
        (col("s_acctbal") + 100.0).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
      custs, "c_acctbal", brackets, "lo", "hi", bucketWidth = 100.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_custkey")).cast("long").as("cust_checksum"))
      .orderBy("s_suppkey")
  }

  /** Engine extension: interval-overlap join — customer [acctbal,
    * acctbal+50] brackets intersecting supplier [acctbal, acctbal+100]
    * brackets, via the bucketized equi-join with left-edge dedup (no
    * cross product, no distinct). */
  private def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val custs = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal").as("c_lo"),
        (col("c_acctbal") + 50.0).as("c_hi"))
    val sups = t(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal").as("s_lo"),
        (col("s_acctbal") + 100.0).as("s_hi"))
    graft.operators.RangeJoin.intervalOverlap(
      custs, "c_lo", "c_hi", sups, "s_lo", "s_hi", bucketWidth = 200.0)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_overlaps"),
        sum(col("c_custkey")).cast("long").as("cust_checksum"))
      .orderBy("s_suppkey")
  }

  /** §4 skew tactics as a QUERY: the lineitem→orders equi-join run
    * through `Skew.saltedJoin` (hot keys spread over 8 salt buckets),
    * aggregated per priority. The oracle is the PLAIN join — the whole
    * point is that salting is result-invisible. */
  private def saltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_quantity"))
    val ords = t(s, dir, "orders")
      .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
    graft.operators.Skew.saltedJoin(li, ords, "okey", factor = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy("o_orderpriority")
  }

  /** Hybrid retrieval: BM25 keyword list + dense cosine list fused by
    * Reciprocal Rank Fusion (K=60) — the standard RAG first-stage
    * combiner. Both inputs are the engine's own top-20 retrievals; only
    * ranks cross the fusion boundary. */
  private def hybridRrfQ(s: SparkSession, dir: String): DataFrame = {
    val sparse = graft.search.TextSearch.bm25TopK(t(s, dir, "documents"),
      Seq("dup", "vector", "join", "window"), k = 20)
    val embs = t(s, dir, "embeddings")
    val dense = graft.operators.Ann
      .bruteForceTopK(embs, embs.filter(col("vec_id") === 1), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.search.Fusion.rrf(Seq(sparse.select("doc_id", "rank"), dense),
      kConst = 60, topK = 10)
  }

  /** Engine extensions beyond the reference: multi-level aggregation. */
  private def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** §2.6 multidim aggregate: full CUBE over (priority, status). */
  private def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("o_totalprice"))).cast("double").as("total"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  /** §2.8 window-function suite: lag/lead on the time axis, ntile /
    * percent_rank / cume_dist on the value axis, per user — every
    * ordering is total (ties broken by event_id), so ranks are
    * engine-exact.
    */
  private def windowSuiteQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, dir, "events").filter(col("user_id") < 20)
      .select("user_id", "event_id", "ts", "value")
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val byValue = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    ev.select(col("user_id"), col("event_id"), col("value"),
      lag(col("value"), 1).over(byTime).as("prev_v"),
      lead(col("value"), 1).over(byTime).as("next_v"),
      ntile(4).over(byValue).cast("long").as("tile4"),
      round(percent_rank().over(byValue), 6).as("pct_rank"),
      round(cume_dist().over(byValue), 6).as("cume"))
      .orderBy("user_id", "event_id")
  }

  private def semiAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
    val semi = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("semi").as("kind"), col("n"))
    val anti = o.join(l, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("anti").as("kind"), col("n"))
    semi.unionByName(anti).orderBy("kind")
  }

  /** Deterministic corpus text cleaning (NFC → control/format strip →
    * whitespace collapse, [[graft.functions.NormalizeFunctions]]) — each
    * doc gets a synthetic denormalized tail ([[OracleSql.CleanTail]]:
    * decomposed accent, zero-width space, C0 control, whitespace runs)
    * so all three stages fire on every row; the per-doc md5 of the
    * cleaned text pins the exact output bytes against DuckDB's
    * utf8proc-NFC + RE2 replay.
    */
  private def cleanNormalizeQ(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"), lit(OracleSql.CleanTail))
    t(s, dir, "documents")
      .select(col("doc_id"), length(raw).cast("long").as("len_raw"),
        graft.functions.NormalizeFunctions.clean_text(raw).as("cleaned"))
      .select(col("doc_id"), col("len_raw"),
        length(col("cleaned")).cast("long").as("len_clean"),
        md5(col("cleaned")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** k-anonymity / l-diversity release audit of `customer` under the
    * (nation, segment) quasi-identifier with account balance as the
    * sensitive attribute ([[graft.operators.Privacy.kAnonymityReport]]).
    */
  private def kAnonymityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonymityReport(
      t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"),
      "c_acctbal", k = 10L)

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

  /** Small-file compaction plan over a synthetic per-source "file"
    * listing (docs as files, n_chars as bytes) —
    * [[graft.sources.Layout.compactionPlan]], next-fit-decreasing at
    * target 1000 / keep 400, aggregated per rewrite group. The oracle
    * replays the exact greedy fold with a linear recursive CTE.
    */
  private def compactionPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.compactionPlan(
        t(s, dir, "documents").select(col("source"), col("doc_id"), col("n_chars")),
        "source", "doc_id", "n_chars", targetBytes = 1000L, keepBytes = 400L)
      .groupBy("part", "bin")
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
        min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
      .orderBy("part", "bin")

  /** Unicode script-mix composition audit per claimed lang label
    * ([[graft.operators.TextAnalysis.scriptMix]]).
    */
  private def scriptMixQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.scriptMix(t(s, dir, "documents"))
      .orderBy("grp")

  /** LSH banding planner s-curve table ([[graft.operators.Dedup.lshBandPlan]])
    * — closed-form, no data scan; the pre-flight for every near-dup pass.
    */
  private def lshPlanQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.lshBandPlan(s, nHashes = 128)
      .orderBy("bands", "sim_pct")

  // ---------- registry ----------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // top-100 by the FULL cap key: (l_orderkey, l_linenumber) alone is not
    // unique in the sampled-with-replacement lineitem, and a tie on the
    // limit boundary would make the selected rows engine-dependent
    "s1_scan_topn" -> ((s, d) => t(s, d, "lineitem")
      .orderBy(graft.sources.Lake.TableKeys("lineitem").map(col): _*).limit(100)),
    "p2_filter_project" -> ((s, d) => t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-06-01") && col("l_shipdate") < lit("1995-07-01")
        && col("l_discount") > 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")),
    "a_profile_stats" -> numericProfile,
    "a4_quantiles" -> quantileProfile,
    "q1_agg" -> q1Agg,
    "q3_top_revenue" -> q3TopRevenue,
    "j_star_join" -> starJoin,
    "o_topk_window" -> topkWindow,
    "w_running_agg" -> runningAgg,
    "w_range_window" -> rangeWindowQ,
    "set_ops" -> setOps,
    "j5_exact_jaccard" -> exactJaccardPairs,
    "f_lenient_dates" -> lenientDates,
    "f_json_extract" -> jsonExtract,
    "e_hourly_events" -> hourlyEvents,
    "e_sessionize" -> sessionize,
    "t_text_metrics" -> textMetrics,
    "t_bm25_search" -> bm25Search,
    "j_prf_terms" -> prfTermsQ,
    "j_prf_search" -> prfSearchQ,
    "t_ql_search" -> qlSearchQ,
    "j3_rbo" -> rboQ,
    "t_lm_quality" -> lmQuality,
    "t_kn_quality" -> knQuality,
    "t_min_k_prob" -> minKProbQ,
    "t_nb_langid" -> nbLangIdQ,
    "t_token_freq" -> tokenFreq,
    "t_dup_ngram_coverage" -> dupNgramCoverage,
    "d_exact_dup" -> exactDup,
    "d_ngram_jaccard" -> ngramJaccard,
    "j5_weighted_jaccard" -> weightedJaccardQ,
    "d_weighted_minhash" -> weightedMinhashQ,
    "d_icws_minhash" -> icwsMinhashQ,
    "d_icws_neardups" -> icwsNearDupsQ,
    "emb_stats" -> embStats,
    "ann_cosine_topk" -> annTopK,
    "q_hard_negatives" -> hardNegativesQ,
    "ann_ivf_topk" -> annIvf,
    "ann_quantized_topk" -> annQuantized,
    "ann_rerank_topk" -> annRerank,
    "o4_search_exact" -> searchExact,
    // rows-only operators (sketch-based / heuristic; no SQL oracle)
    "profile_sketches" -> profileSketches,
    "lake_profile_unified" -> lakeProfileUnifiedQ,
    "lake_csv_unified" -> lakeCsvUnifiedQ,
    "q7_onnx_score" -> q7OnnxScore,
    "q7_transformer_score" -> q7TransformerScore,
    "q7_encoder_stack" -> q7EncoderStack,
    "q6_value_embed" -> q6ValueEmbed,
    "q7_encoder_tanh" -> q7EncoderTanh,
    "q7_encoder_gelu" -> q7EncoderGelu,
    "q7_encoder_gelu_exact" -> q7EncoderGeluExact,
    "q6_vocab_embed" -> q6VocabEmbed,
    "e2e_encode_search" -> e2eEncodeSearch,
    "q1_embed_extract" -> q1EmbedExtract,
    "e2e_lake_search" -> e2eLakeSearch,
    "mm_pixel_decode" -> mmPixelDecode,
    "mm_audio_decode" -> mmAudioDecode,
    "mm_video_probe" -> mmVideoProbe,
    "d_media_dedup" -> mediaDedup,
    "mm_dhash_neardup" -> dhashNearDupQ,
    "mm_audio_fingerprint" -> audioFpQ,
    "t_chunk_windows" -> chunkWindows,
    "t_pack_sequences" -> packSeqs,
    "content_snapshots" -> contentSnapshots,
    "o4_search_minhash" -> searchMinhash,
    "o4_search_subset" -> searchSubsetQ,
    "j5_minhash_pairs" -> minhashJaccardPairs,
    "d_minhash_lsh" -> minhashNearDups,
    "d_simhash_pairs" -> simhashPairs,
    "t_lang_quality" -> langQuality,
    "type_inference" -> typeInference,
    "d_emb_neardups" -> embNearDups,
    "d_semdedup" -> semDedupQ,
    "ann_pq_adc" -> annPqAdc,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivfpq_recall" -> annIvfPqRecall,
    "d_dsir_sample" -> dsirSampleQ,
    "a16_value_heads" -> valueHeads,
    "a9_corr_probe" -> corrProbe,
    "a15_content_hash" -> contentHashes,
    "a_augment_hashes" -> augmentHashes,
    "t2_tokenizer_layout" -> tokenizerLayout,
    "m4_pair_features" -> pairFeatures,
    "t1_feature_tensors" -> featureTensors,
    "a14_hashing_sketch" -> hashingSketches,
    "mm_media_stats" -> mediaStats,
    "mm_frame_plan" -> framePlan,
    "st_stream_profile" -> streamingProfile,
    "st_stream_rate" -> streamingRateQ,
    "st_stream_dedup" -> streamingDedupQ,
    "st_stream_decontam" -> streamingDecontamQ,
    "s2_compressed_roundtrip" -> compressedRoundtrip,
    "j3_search_eval" -> searchEval,
    "j3_ndcg" -> searchNdcgQ,
    "q5_table_search" -> tableSearch,
    "s7s8_sketch_roundtrip" -> sketchRoundtrip,
    "s7_json_roundtrip" -> jsonSketchRoundtrip,
    "s3_ingest_hygiene" -> ingestHygiene,
    "j2_missing_pairs" -> missingPairsQ,
    "s10_split_roundtrip" -> splitRoundtrip,
    "s5_sidecar_merge" -> sidecarMerge,
    "o7_seeded_shuffle" -> seededShuffleQ,
    "s12_excel_charset" -> excelCharsetQ,
    "s_jsonl_scan" -> jsonlScanQ,
    "t2_wordpiece" -> wordpieceQ,
    "mm_decode_probe" -> decodeProbe,
    "t_fingerprint" -> fingerprintQ,
    "o6_canonical_order" -> canonicalOrderQ,
    "inc_profile_merge" -> incrementalMerge,
    "inc_quantile_sketch" -> quantileSketchQ,
    "w_domain_cap" -> domainCapQ,
    "w_url_dedup" -> urlDedupQ,
    "s_corpus_sink" -> corpusSinkQ,
    "t2_bpe_train" -> bpeTrainQ,
    "t2_unigram_train" -> unigramTrainQ,
    "t2_unigram_encode" -> unigramEncodeQ,
    "t2_unigram_fertility" -> unigramFertilityQ,
    "t2_unigram_prune" -> unigramPruneQ,
    "t2_tokenizer_compare" -> tokenizerCompareQ,
    "st_stream_unigram" -> streamingUnigramQ,
    "ann_kmeans_ivf" -> annKmeansIvf,
    "st_stream_quantiles" -> streamingQuantilesQ,
    "st_stream_cms" -> streamingCmsQ,
    "x_zorder" -> zorderQ,
    "t2_bpe_encode" -> bpeEncodeQ,
    "t2_bpe_fertility" -> bpeFertilityQ,
    "d_dup_span_coverage" -> dupSpanCoverage,
    "d_tracin_influence" -> tracinQ,
    "t_lr_quality" -> lrQualityQ,
    "t_lr_quality_weights" -> lrQualityWeightsQ,
    "t_quality_filter" -> qualityFilterStats,
    "d_dedup_corpus" -> dedupCorpus,
    "d_cluster_canonical" -> clusterCanonicalQ,
    "d_corpus_diff" -> corpusDiffQ,
    "w_page_rank" -> pageRankQ,
    "w_kcore" -> kCoreQ,
    "w_label_prop" -> labelPropQ,
    "d_leakage_split" -> leakageSplitQ,
    "t_token_budget" -> tokenBudgetQ,
    "d_domain_reweight" -> domainReweightQ,
    "x_chinchilla_plan" -> chinchillaPlanQ,
    "d_mix_epochs" -> mixEpochsQ,
    "t_pii_scrub" -> piiScrub,
    "d_stratified_sample" -> stratifiedSampleStats,
    "d_decontam_report" -> decontamReport,
    "e2e_curation_funnel" -> curationFunnelQ,
    "d_lsh_calibration" -> lshCalibrationQ,
    "d_lsh_autoplan" -> lshAutoplanQ,
    "a_bootstrap_ci" -> bootstrapCiQ,
    "emb_pca_power" -> pcaPowerQ,
    "emb_abtt" -> abttQ,
    "emb_cka" -> embCkaQ,
    "emb_matryoshka" -> matryoshkaQ,
    "emb_jl_overlap" -> jlOverlapQ,
    "d_kcenter_coreset" -> kCenterQ,
    "t_c4_filters" -> c4FiltersQ,
    "t_ppl_buckets" -> pplBucketsQ,
    "t_ppl_buckets_sketch" -> pplBucketsSketchQ,
    "t_quality_agreement" -> qualityAgreementQ,
    "w_source_concentration" -> sourceConcentrationQ,
    "t_ngram_entropy" -> ngramEntropyQ,
    "x_merge_upsert" -> mergeUpsertQ,
    "e2e_ccnet_funnel" -> ccnetFunnelQ,
    "mm_resize" -> mmResizeQ,
    "e_seasonality" -> seasonalityQ,
    "d_soft_dedup" -> softDedupQ,
    "d_incremental_clusters" -> incrementalClustersQ,
    "d_bloom_merge" -> bloomMergeQ,
    "emb_knn_graph" -> knnGraphQ,
    "emb_label_agreement" -> labelAgreementQ,
    "j3_mrr" -> searchMrrQ,
    "j3_map" -> searchMapQ,
    "ann_cell_balance" -> cellBalanceQ,
    "st_stream_c4" -> streamingC4Q,
    "st_stream_upsert" -> streamingUpsertQ,
    "st_stream_ppl" -> streamingPplQ,
    "st_stream_domains" -> streamingDomainsQ,
    "st_stream_lr" -> streamingLrQ,
    "st_stream_nb" -> streamingNbQ,
    "d_semantic_decontam" -> semanticDecontamQ,
    "d_weighted_sample" -> weightedSampleQ,
    "a_col_entropy" -> colEntropyQ,
    "a_fd_scan" -> fdScanQ,
    "a_ind_scan" -> indScanQ,
    "a_key_discovery" -> keyDiscoveryQ,
    "d_fuzzy_pairs" -> fuzzyPairsQ,
    "d_ppjoin_pairs" -> ppjoinPairsQ,
    "d_exact_dedup_corpus" -> exactDedupCorpusQ,
    "t_collocations" -> collocationsQ,
    "q_class_weights" -> classWeightsQ,
    "q_calibration" -> calibrationQ,
    "w_graph_stats" -> graphStatsQ,
    "p_quality_checks" -> qualityChecksQ,
    "a_psi_drift" -> psiDriftQ,
    "a_entropy_mi" -> entropyMiQ,
    "d_bloom_prefilter" -> bloomPrefilterQ,
    "d_line_dedup" -> lineDedupQ,
    "d_dup_spans" -> ((s, d) =>
      graft.operators.Dedup.duplicateSpans(t(s, d, "documents"), minTokens = 8)
        .orderBy("id", "start_tok")),
    "d_substring_dedup" -> ((s, d) =>
      graft.operators.Dedup.removeDuplicateSpans(t(s, d, "documents"), minTokens = 8)
        .orderBy("id")),
    "t_cms_freq" -> cmsFreqQ,
    "d_incremental_dedup" -> incrementalDedupQ,
    "a_hll_distinct" -> hllDistinctQ,
    "a_kmv_distinct" -> kmvDistinctQ,
    "a_kmv_setops" -> kmvSetOpsQ,
    "d_temperature_mix" -> temperatureMixQ,
    "t_pmi_bigrams" -> pmiBigramsQ,
    "t_textrank_keywords" -> textrankQ,
    "t_readability" -> readabilityQ,
    "t_tfidf_terms" -> tfidfTermsQ,
    "t_repetition" -> repetitionMetricsQ,
    "t_ngram_novelty" -> ngramNoveltyQ,
    "t_length_histogram" -> lengthHistogramQ,
    "x_asof_join" -> asofEnrich,
    "e_funnel" -> funnelQ,
    "e_mad_outliers" -> madOutliersQ,
    "e_decayed_engagement" -> decayedEngagementQ,
    "x_pivot" -> pivotQ,
    "x_unpivot" -> unpivotQ,
    "e_cohort_retention" -> cohortRetentionQ,
    "e_resample_locf" -> resampleLocfQ,
    "x_range_join" -> rangeJoinQ,
    "x_interval_overlap" -> intervalOverlapQ,
    "x_salted_join" -> saltedJoinQ,
    "j_cluster_agreement" -> clusterAgreementQ,
    "j_hybrid_rrf" -> hybridRrfQ,
    "e_multi_touch" -> multiTouchQ,
    "a_schema_diff" -> schemaDiffQ,
    "x_rollup_agg" -> rollupAgg,
    "x_cube_agg" -> cubeAgg,
    "w_window_suite" -> windowSuiteQ,
    "x_semi_anti_join" -> semiAntiJoin,
    "st_stream_sessions" -> streamingSessionsQ,
    "e_change_history" -> changeHistoryQ,
    "t_vocab_coverage" -> vocabCoverageQ,
    "a_key_skew" -> keySkewQ,
    "ann_mmr_rerank" -> mmrRerankQ,
    "t_heavy_hitters" -> heavyHittersQ,
    "a_woe_iv" -> woeIvQ,
    "a_chi2_assoc" -> chi2AssocQ,
    "e_trend_mk" -> trendMkQ,
    "e_acf" -> acfQ,
    "e_theil_sen" -> theilSenQ,
    "a_benford" -> benfordQ,
    "w_triangles" -> trianglesQ,
    "e_changepoint" -> changepointQ,
    "d_kfold" -> kFoldQ,
    "e_transitions" -> transitionsQ,
    "e_ab_test" -> abTestQ,
    "j3_rank_corr" -> rankCorrQ,
    "st_stream_enrich" -> streamingEnrichQ,
    "st_stream_attrib" -> streamingAttribQ,
    "st_stream_embed" -> stStreamEmbedQ,
    "e_time_to_convert" -> timeToConvertQ,
    "a_ks_test" -> ksTestQ,
    "x_grouping_sets" -> groupingSetsQ,
    "j_revenue_share" -> revenueShareQ,
    "w_components" -> componentsQ,
    "w_hits" -> hitsQ,
    "a_eqfreq_bins" -> eqfreqBinsQ,
    "a_join_estimate" -> joinEstimateQ,
    "d_lsh_quality" -> lshQualityQ,
    "t_zipf" -> zipfQ,
    "emb_centroids" -> embCentroidsQ,
    "q_contrastive_pairs" -> contrastivePairsQ,
    "x_groupby_ols" -> groupedOlsQ,
    "e_top_paths" -> topPathsQ,
    "a_info_gain" -> infoGainQ,
    "w_reciprocity" -> reciprocityQ,
    "a_boxplot" -> boxplotQ,
    "e_last_touch" -> lastTouchQ,
    "ann_recall_audit" -> annRecallQ,
    "t_corpus_card" -> corpusCardQ,
    "emb_dim_variance" -> dimVarianceQ,
    "e_rolling_wau" -> rollingWauQ,
    "x_latest_by_key" -> latestByKeyQ,
    "s_csv_write_roundtrip" -> csvWriteRoundtripQ,
    "t_clean_normalize" -> cleanNormalizeQ,
    "p_k_anonymity" -> kAnonymityQ,
    "d_cosine_pairs" -> cosinePairsQ,
    "d_cosine_postings" -> cosinePostingsQ,
    "d_cosine_auto" -> cosineAutoQ,
    "x_shard_plan" -> shardPlanQ,
    "x_compaction_plan" -> compactionPlanQ,
    "t_script_mix" -> scriptMixQ,
    "d_lsh_plan" -> lshPlanQ,
    "s_orc_roundtrip" -> orcRoundtripQ
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
