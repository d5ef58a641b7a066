package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.word_shingles

/** Benchmark decontamination — flag training documents that share long
  * n-grams with an evaluation set (the standard leakage guard run before
  * any pretraining mix ships).
  *
  * Shape at scale: explode both sides to distinct (id, shingle), equi-join
  * on the shingle, count matches per doc — the join shuffles only
  * (id, shingle-hash)-sized rows and the benchmark side is tiny next to
  * the corpus, so Catalyst broadcasts it. Nothing here is quadratic in
  * the corpus.
  */
object Decontamination {

  /** Per-document overlap report against `benchmark`:
    * (id, n_shingles, n_overlap, overlap_frac, contaminated). A document
    * with fewer than `n` words has zero `n`-shingles and is clean by
    * construction.
    */
  def overlapReport(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                    threshold: Double = 0.05,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docSh = shingleSet(docs, idCol, textCol, n, "id")
    val benchSh = shingleSet(benchmark, idCol, textCol, n, "bench_id").select("sh").distinct()
    val counts = docSh.groupBy("id").agg(count(lit(1)).as("n_shingles"))
    flagOverlaps(counts, docSh.join(benchSh, "sh"), threshold)
  }

  /** (`out`, sh): each document's distinct word `n`-shingles. */
  private[operators] def shingleSet(df: DataFrame, idCol: String, textCol: String,
                                    n: Int, out: String): DataFrame =
    df.select(col(idCol).as(out),
      explode(array_distinct(word_shingles(col(textCol), n))).as("sh"))

  /** `counts` (id, n_shingles, …) with each document's number of
    * shingles in `overlapping` (id, …) as `n_overlap` (0 when none),
    * `overlap_frac` and the `contaminated` flag at `threshold`. */
  private[operators] def flagOverlaps(counts: DataFrame, overlapping: DataFrame,
                                      threshold: Double): DataFrame =
    counts.join(overlapping.groupBy("id").agg(count(lit(1)).as("n_overlap")),
        Seq("id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .withColumn("overlap_frac",
        round(col("n_overlap") / col("n_shingles"), 6))
      .withColumn("contaminated", col("overlap_frac") >= threshold)

  /** Semantic decontamination — embedding-cosine leakage the n-gram
    * guard cannot see (paraphrases, translations, reformatted copies).
    * Per corpus vector: the best-matching benchmark vector, its cosine,
    * and a `contaminated` flag at `threshold`.
    *
    * Shape at scale: the benchmark side is the (small) eval set —
    * explicitly broadcast; the corpus streams through one
    * broadcast-nested-loop score + one groupBy on the corpus id. Max
    * and argmax come from a single `max(struct(cosine, -match_id))`, so
    * ties break toward the smallest benchmark id deterministically —
    * no non-deterministic `max_by`. Cosines are 6-dp-rounded before
    * the comparison (the engine-wide FP discipline).
    */
  def semanticOverlapReport(corpus: DataFrame, benchmark: DataFrame,
                            threshold: Double, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    import graft.operators.Ann.{dot, norm}
    def withNorm(df: DataFrame, id: String, v: String, n: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))
        .withColumn(n, norm(col(v)))
    val c = withNorm(corpus, "id", "cv", "cn")
    val b = withNorm(benchmark, "bench_id", "bv", "bn")
    val cosine = when(col("cn") * col("bn") === 0, lit(0.0))
      .otherwise(round(dot(col("cv"), col("bv")) / (col("cn") * col("bn")), 6))
    c.crossJoin(broadcast(b))
      .select(col("id"), col("bench_id"), cosine.as("cosine"))
      .groupBy("id")
      .agg(max(struct(col("cosine"), (-col("bench_id")).as("neg_id"))).as("best"))
      .select(col("id"),
        (-col("best.neg_id")).cast("long").as("best_match"),
        col("best.cosine").as("best_cosine"),
        (col("best.cosine") >= threshold).as("contaminated"))
  }

  /** Drop contaminated documents (anti-join on the tiny flagged set). */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8,
                    threshold: Double = 0.05,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val flagged = overlapReport(docs, benchmark, n, threshold, idCol, textCol)
      .filter(col("contaminated")).select(col("id").as(idCol))
    docs.join(flagged, Seq(idCol), "left_anti")
  }
}
