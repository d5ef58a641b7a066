package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.SketchFunctions._
import graft.functions.TextFunctions.array_jaccard

/** Table-pair assembly and similarity features — the native stand-in for
  * the reference's cross-encoder scoring (`/root/reference/tabsketchfm/
  * tabsketchfm_finetune.py:64-117`), per SURVEY §7 M4: pair join (J1) →
  * sketch-similarity features → MLlib classifier/regressor.
  *
  * Features per pair, aggregated over best-matching column alignments:
  *  - max/mean MinHash-Jaccard over exact-value digests (joinability)
  *  - max/mean word-token Jaccard (unionability of text columns)
  *  - content-snapshot Jaccard (whole-table overlap)
  *  - column-name token overlap, column-count ratio, type-vector cosine
  */
object PairScoring {

  /** J1: resolve a (table1, table2) pair relation against the profile
    * catalog — two broadcast joins (profiles ≪ raw data).
    */
  def assemblePairs(pairs: DataFrame, profiles: DataFrame): DataFrame = {
    val byTable = profiles.groupBy(col("table_name")).agg(
      collect_list(struct(col("col_idx"), col("col_name"), col("col_type"),
        col("unique"), col("minhash_exact"), col("minhash_words"))).as("cols")
    )
    pairs
      .join(broadcast(byTable.withColumnRenamed("table_name", "table1")
        .withColumnRenamed("cols", "cols1")), "table1")
      .join(broadcast(byTable.withColumnRenamed("table_name", "table2")
        .withColumnRenamed("cols", "cols2")), "table2")
  }

  /** J2: pairs whose tables are missing from the catalog (diagnostics). */
  def missingPairs(pairs: DataFrame, profiles: DataFrame): DataFrame = {
    val names = profiles.select(col("table_name")).distinct()
    pairs.join(names.withColumnRenamed("table_name", "table1"), Seq("table1"), "left_anti")
      .unionByName(
        pairs.join(names.withColumnRenamed("table_name", "table2"), Seq("table2"), "left_anti"))
      .distinct()
  }

  /** Column-granular similarity features for table pairs. Input: the
    * long-format profile catalog; output one row per (table1, table2) with
    * the feature vector columns.
    */
  def pairFeatures(pairs: DataFrame, profiles: DataFrame): DataFrame = {
    val p1 = profiles.select(col("table_name").as("table1"),
      col("col_idx").as("ci1"), col("col_name").as("cn1"), col("col_type").as("ct1"),
      col("minhash_exact").as("mh1"), col("minhash_words").as("mhw1"))
    val p2 = profiles.select(col("table_name").as("table2"),
      col("col_idx").as("ci2"), col("col_name").as("cn2"), col("col_type").as("ct2"),
      col("minhash_exact").as("mh2"), col("minhash_words").as("mhw2"))
    // all column alignments of each pair (bounded: nCols1 × nCols2)
    val aligned = pairs.join(p1, "table1").join(p2, "table2")
      .withColumn("j_exact", minhash_jaccard(col("mh1"), col("mh2")))
      .withColumn("j_words",
        when(col("mhw1").isNotNull && col("mhw2").isNotNull,
          minhash_jaccard(col("mhw1"), col("mhw2"))))
      .withColumn("name_sim", array_jaccard(
        split(lower(col("cn1")), "[_\\s]+"), split(lower(col("cn2")), "[_\\s]+")))
      .withColumn("type_match", (col("ct1") === col("ct2")).cast("double"))
    aligned.groupBy(col("table1"), col("table2")).agg(
      round(max(col("j_exact")), 6).as("max_j_exact"),
      // decimal-exact mean: FP-order-free so the oracle reproduces it
      round(sum(col("j_exact").cast(org.apache.spark.sql.types.DecimalType(20, 10)))
        .cast("double") / count(col("j_exact")), 6).as("mean_j_exact"),
      round(max(coalesce(col("j_words"), lit(0.0))), 6).as("max_j_words"),
      round(max(col("name_sim")), 6).as("max_name_sim"),
      round(avg(col("type_match")), 6).as("type_agreement"),
      countDistinct(col("ci1")).as("n_cols_1"),
      countDistinct(col("ci2")).as("n_cols_2"))
      .withColumn("col_ratio",
        round(least(col("n_cols_1"), col("n_cols_2")).cast("double") /
          greatest(col("n_cols_1"), col("n_cols_2")), 6))
  }

  /** Train an MLlib scorer over pair features. `problemType` mirrors the
    * reference's classification/regression dispatch
    * (`tabsketchfm_finetune.py:86-107`).
    */
  def trainScorer(features: DataFrame, labelCol: String,
                  problemType: String = "classification"): org.apache.spark.ml.PipelineModel = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.regression.GBTRegressor
    val featCols = Array("max_j_exact", "mean_j_exact", "max_j_words",
      "max_name_sim", "type_agreement", "col_ratio")
    val asm = new VectorAssembler().setInputCols(featCols).setOutputCol("features")
    val est = problemType match {
      case "regression" =>
        new GBTRegressor().setLabelCol(labelCol).setFeaturesCol("features").setMaxIter(20)
      case _ =>
        new LogisticRegression().setLabelCol(labelCol).setFeaturesCol("features").setMaxIter(50)
    }
    new Pipeline().setStages(Array(asm, est)).fit(features)
  }
}
