package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SketchFunctions.md5_low32

/** Distill an expensive per-document quality rule into a cheap linear
  * scorer — the classic "quality classifier" of LLM corpus curation
  * (GPT-3, Brown et al. 2020 App. A trained a logistic filter on
  * reference-vs-crawl labels; public paper, see PAPERS.md). The model
  * here is logistic regression with the HARD-SIGMOID link
  * σ̂(z) = clamp(z/4 + 1/2, 0, 1) (the piecewise-linear sigmoid of
  * quantized nets; slope 1/4 matches the logistic derivative at 0), so
  * the ENTIRE training loop is exact integer micro arithmetic — no
  * transcendental anywhere, unlike true-sigmoid GD whose exp() is not
  * cross-engine reproducible (the house determinism seam covers ln,
  * not exp — see the ICWS log-domain discipline):
  *
  *  - features: hashed token counts x ∈ ℕ (md5 % dims) + intercept,
  *  - weights in micro units (long),
  *  - z_micro = Σ_j w_j·x_j exact long,
  *  - σ̂_micro = clamp(z_micro div 4 + 500000, 0, 10⁶) — truncating
  *    div, identical to DuckDB `//`,
  *  - residual r_micro = y·10⁶ − σ̂_micro,
  *  - full-batch gradient Σ_i r_i·x_ij exact long (bound: needs
  *    n_docs · x̄ · 10⁶ < 2⁶³ ≈ 9.2e18, i.e. ~10¹⁰ average docs —
  *    beyond that lift the sum into DECIMAL(38,0), the
  *    Sampling.epochCappedPlan precedent),
  *  - update w += ((Σ div n) · η_micro) div 10⁶, all truncating.
  *
  * Bit-identical on any engine / partitioning / rerun; the SQL oracle
  * replays training by unrolling rounds.
  *
  * Scale shape: the feature relation shuffles ONCE (token hash
  * aggregate); each round is two keyed joins against it with map-side
  * partial sums — weights are a dims+1-row broadcast relation, never a
  * driver collect. Scoring is one broadcast join + per-doc aggregate.
  */
object QualityDistill {

  /** Hashed token-count features (id, dim, x): dim = md5_low32(tok) %
    * dims for word tokens, plus the intercept row dim = dims with
    * x = 1 for EVERY document (so empty docs still score). */
  def hashedFeatures(docs: DataFrame, dims: Int = 8,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    // balance before the tokenize+md5 explode (guide §2.5): the corpus
    // is small on disk but the per-token hash work is compute-dense,
    // and the scan otherwise yields 1-2 splits
    val toks = graft.sources.Lake.balance(docs)
      .select(col(idCol).as("id"),
        explode(split(trim(col(s"`$textCol`")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    toks.select(col("id"), (md5_low32(col("tok")) % dims).as("dim"))
      .groupBy("id", "dim").agg(count(lit(1)).as("x"))
      .unionByName(docs.select(col(idCol).as("id"),
        lit(dims.toLong).as("dim"), lit(1L).as("x")))
  }

  /** Hard-sigmoid residuals (id, r_micro) of the feature relation
    * against a LITERAL weight array (dim-indexed lookup — exactly the
    * former broadcast-join on a complete 0..dims weight relation, as a
    * codegen `element_at`). */
  private def residualsLit(fx: DataFrame, lab: DataFrame,
                           w: Array[Long]): DataFrame = {
    val wLit = typedlit(w.toSeq)
    fx.select(col("id"),
        (col("x") * element_at(wLit, col("dim").cast("int") + 1)).as("__xw"))
      .groupBy("id").agg(sum(col("__xw")).as("z_micro"))
      .join(lab, "id")
      .select(col("id"), (col("y") * 1000000L -
        least(lit(1000000L), greatest(lit(0L),
          expr("z_micro div 4") + 500000L))).as("r_micro"))
  }

  /** Labels (id, y) with y as a long, materialized once. */
  private def longLabels(labels: DataFrame): DataFrame =
    labels.select(col("id"), col("y").cast("long").as("y")).localCheckpoint(eager = true)

  /** Full-batch hard-sigmoid GD from w = 0: returns (dim, w_micro)
    * after `nIter` rounds on features (id, dim, x) and labels (id, y)
    * with y ∈ {0, 1}.
    *
    * The dims+1-row weight vector iterates on the DRIVER (guide §5 —
    * bounded MODEL PARAMETERS, not data; the standard distributed-GD
    * shape): each round is ONE action — the per-dim gradient collect —
    * instead of the former weight-relation checkpoint plus per-round
    * broadcast builds (measured: 3 rounds cost ~36 jobs whose
    * scheduling gaps dominated the wall; now 1 job per round). The
    * update arithmetic is the identical truncating integer algebra
    * (JVM Long division truncates toward zero exactly like Spark `div`
    * and DuckDB `//`), so the oracle replay is unchanged. */
  def trainHardSigmoidLr(feats: DataFrame, labels: DataFrame,
                         dims: Int = 8, nIter: Int = 3,
                         etaMicro: Long = 1000L): DataFrame = {
    require(nIter >= 1 && etaMicro > 0, "need nIter >= 1 and etaMicro > 0")
    val s = feats.sparkSession
    import s.implicits._
    val fx = feats.localCheckpoint(eager = true)
    val lab = longLabels(labels)
    val n = lab.count()
    val w = Array.fill(dims + 1)(0L)
    for (_ <- 1 to nIter) {
      val grad = fx.join(residualsLit(fx, lab, w), "id")
        .groupBy("dim").agg(sum(col("x") * col("r_micro")).as("g"))
        .collect()
      // dims absent from the gradient relation contributed 0 (the former
      // left-join coalesce(g, 0)); all divisions truncate toward zero
      grad.foreach { row =>
        w(row.getLong(0).toInt) += ((row.getLong(1) / n) * etaMicro) / 1000000L
      }
    }
    (0 to dims).map(d => (d.toLong, w(d))).toDF("dim", "w_micro")
  }

  /** TracIn-style training-data attribution (Pruthi et al. 2020,
    * "Estimating Training Data Influence by Tracing Gradient Descent"
    * — public paper, see PAPERS.md) over the hard-sigmoid LR: the
    * influence of training doc i on the validation set is
    * Σ_rounds η·⟨∇L_val(w_t), ∇L_i(w_t)⟩; with the linear model the
    * per-doc gradient is −r_i·x_i, so the round contribution is
    * r_i · (x_i · ū_t) with ū_t the MEAN validation residual-weighted
    * feature vector — positive influence = the doc pushed the model
    * toward the validation labels. Every step integer and truncating
    * (r div 1000 times dot div 1000, so the per-round contribution is
    * in micro²/10⁶ units), bit-identical cross-engine.
    *
    * Long-bound audit at 100 TB: ū_j = (Σ_val r·x) div n_val keeps the
    * validation aggregate mean-scaled (≤ x̄·10⁶); the train-side dot
    * is dims·x̄·ū ≤ ~10¹¹ for x̄ ≤ 100 — the documented
    * DECIMAL(38,0) lift applies beyond that.
    *
    * @return per TRAIN doc (id, y, infl) — infl summed over rounds. */
  def tracinInfluence(feats: DataFrame, trainLabels: DataFrame,
                      valLabels: DataFrame, dims: Int = 8, nIter: Int = 3,
                      etaMicro: Long = 1000L): DataFrame = {
    require(nIter >= 1 && etaMicro > 0, "need nIter >= 1 and etaMicro > 0")
    val fx = feats.localCheckpoint(eager = true)
    val tr = longLabels(trainLabels)
    val va = longLabels(valLabels)
    val n = tr.count()
    val nVal = va.count()
    // ONE tagged residual pass per round serves both the train gradient
    // and the validation mean gradient (the id sets may overlap — each
    // (id, side) row keeps its own residual, exactly the former two
    // separate residual relations)
    val lab = tr.withColumn("__val", lit(false))
      .unionByName(va.withColumn("__val", lit(true)))
      .localCheckpoint(eager = true)
    // the dims+1-row weight vector iterates on the DRIVER (guide §5 —
    // bounded model parameters; see trainHardSigmoidLr): each round is
    // 3 actions — residual checkpoint, one fused per-dim (g, us)
    // collect, influence checkpoint — instead of the former ~6 actions
    // plus per-round broadcast builds. Identical truncating integer
    // algebra (JVM Long division == Spark `div` == DuckDB `//`).
    val w = Array.fill(dims + 1)(0L)
    var infl = tr.select(col("id"), col("y"), lit(0L).as("infl"))
    for (_ <- 1 to nIter) {
      // residualsLit's shape with the side tag riding through the join
      val rTagged = fx.select(col("id"),
          (col("x") * element_at(typedlit(w.toSeq),
            col("dim").cast("int") + 1)).as("__xw"))
        .groupBy("id").agg(sum(col("__xw")).as("z_micro"))
        .join(lab, "id")
        .select(col("id"), col("__val"), (col("y") * 1000000L -
          least(lit(1000000L), greatest(lit(0L),
            expr("z_micro div 4") + 500000L))).as("r_micro"))
        .localCheckpoint(eager = true)
      // fused per-dim TRAIN gradient g and VALIDATION gradient sum us
      val sums = fx.join(rTagged, "id")
        .groupBy("dim").agg(
          sum(when(!col("__val"), col("x") * col("r_micro"))
            .otherwise(0L)).as("g"),
          sum(when(col("__val"), col("x") * col("r_micro"))
            .otherwise(0L)).as("us"))
        .collect()
      val u = Array.fill(dims + 1)(0L)
      val g = Array.fill(dims + 1)(0L)
      sums.foreach { row =>
        val d = row.getLong(0).toInt
        g(d) = row.getLong(1)
        u(d) = row.getLong(2) / nVal // mean validation gradient, trunc div
      }
      val dot = fx.select(col("id"),
          (col("x") * element_at(typedlit(u.toSeq),
            col("dim").cast("int") + 1)).as("__xu"))
        .groupBy("id").agg(sum(col("__xu")).as("dot"))
      infl = infl
        .join(rTagged.filter(!col("__val")).select(col("id"), col("r_micro")), "id")
        .join(dot, "id")
        .select(col("id"), col("y"), (col("infl") +
          expr("(r_micro div 1000) * (dot div 1000)")).as("infl"))
        .localCheckpoint(eager = true)
      // the training step itself (gradient over TRAIN docs only)
      g.zipWithIndex.foreach { case (gd, d) =>
        w(d) += ((gd / n) * etaMicro) / 1000000L
      }
    }
    infl
  }

  /** Score every document: (id, z_micro, score_micro) with
    * score_micro = σ̂ in micro units. */
  def scoreHardSigmoid(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights), "dim")
      .groupBy("id").agg(sum(col("x") * col("w_micro")).as("z_micro"))
      .withColumn("score_micro",
        least(lit(1000000L), greatest(lit(0L),
          expr("z_micro div 4") + 500000L)))
}
