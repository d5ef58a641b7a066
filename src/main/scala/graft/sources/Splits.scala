package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Split/label-file sources (S5, S10; FIXTURES F2/F4/F5) — the JSON
  * sidecars and train/valid/test descriptors the reference reads around
  * its datasets (`/root/reference/tabsketchfm/datamodule.py:36-44,100-115`,
  * `data_prep.py:53-58`).
  */
object Splits {

  /** F2 metadata sidecar: one JSON object per file
    * `{table_name, table_description, dataset_description}`. */
  def readMetadata(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** Splits whose arrays hold structs (empty lists infer as
    * array<string> and carry no records). */
  private def structSplits(raw: DataFrame): Seq[String] =
    Seq("train", "valid", "test").filter { s =>
      raw.schema.fields.find(_.name == s).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.ArrayType(
          _: org.apache.spark.sql.types.StructType, _)) => true
        case _ => false
      }
    }

  /** F4 pretrain split: `{train:[{table, metadata, json, column}], valid,
    * test}` → long format (split, table, metadata, json, column). Reads
    * plain or .bz2 JSON (codec by extension).
    */
  def readPretrainSplit(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    structSplits(raw).map { s =>
      raw.select(explode(col(s)).as("r")).select(lit(s).as("split"), col("r.*"))
    }.reduce(_ unionByName _)
  }

  /** F5 finetune pair-label file: `{train:[{table1:{filename}, table2:
    * {filename}, label}], …}` → (split, table1, table2, label).
    */
  def readPairLabels(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    structSplits(raw).map { s =>
      raw.select(explode(col(s)).as("r"))
        .select(lit(s).as("split"),
          col("r.table1.filename").as("table1"),
          col("r.table2.filename").as("table2"),
          col("r.label").as("label"))
    }.reduce(_ unionByName _)
  }

  /** Filename→table normalization (P11): basename without .csv suffix —
    * how pair files reference catalog tables
    * (`tabular_dataset.py:249-258`). */
  def tableKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(element_at(split(c, "/"), -1), "\\.csv(\\.bz2|\\.gz)?$", "")

  /** O7 shuffle key: MD5 of (seed, key columns) — engine-independent AND
    * partition-layout-independent, unlike `rand(seed)` (whose draws depend
    * on partition index, so a repartition would reorder "the same" seed).
    * DuckDB replays the identical order with its own `md5`, which makes
    * training-order shuffles oracle-verifiable. */
  def shuffleKey(seed: Long, keys: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    // Null keys are encoded EXPLICITLY (null-flag digit + value coalesced
    // to "") so the hash input stays injective: concat_ws alone SKIPS
    // nulls, making rows that differ only in WHICH nullable key is null
    // hash identically -- and diverging from the oracle's NULL-propagating
    // `||` replay. Every piece below is non-null, so concat_ws just joins.
    val enc = keys.flatMap(k => Seq(
      when(k.isNull, lit("0")).otherwise(lit("1")),
      coalesce(k.cast("string"), lit(""))))
    md5(concat_ws("\u0001", (lit(seed.toString) +: enc): _*))
  }

  /** O7: deterministic seeded shuffle of a relation (training-order
    * shuffles, `tabular_dataset.py:18-19`). `keyCols` defaults to all
    * columns; pass the table key explicitly when values are not
    * render-stable across engines (doubles). */
  def seededShuffle(df: DataFrame, seed: Long): DataFrame =
    seededShuffle(df, seed, df.columns.toIndexedSeq)

  def seededShuffle(df: DataFrame, seed: Long, keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(c => col(s"`$c`"))
    df.orderBy(shuffleKey(seed, keys) +: keys: _*)
  }

  /** Leakage-safe train/valid/test assignment: the split of a document
    * is a salted hash of its near-dup CLUSTER, not of the document — so
    * every member of a duplicate cluster lands in the SAME split and an
    * eval set can never contain a near-copy of a training document (the
    * standard contamination failure of naive per-row splitting; eval
    * decontamination papers flag exactly this). Unpaired docs are their
    * own singleton cluster.
    *
    * `cuts` are (name, fraction) in order, fractions summing to 1;
    * membership is `md5_low32(cluster:salt)` against cumulative
    * thresholds — a pure function of (cluster, salt), reproducible on
    * any engine/partitioning, same discipline as
    * [[graft.operators.Sampling]]. Scale: only (id, cluster) joins the
    * corpus; the hash is row-local.
    * Output: input rows + (cluster, split).
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       cuts: Seq[(String, Double)],
                       idCol: String = "doc_id",
                       salt: String = "split0"): DataFrame = {
    require(cuts.nonEmpty && math.abs(cuts.map(_._2).sum - 1.0) < 1e-9,
      "cut fractions must sum to 1")
    val labels = graft.operators.Dedup.resolveClusters(pairs)
      .withColumnRenamed("id", "__lid")
    val withCluster = docs
      .join(labels, col(s"`$idCol`").cast("long") === col("__lid"), "left")
      .withColumn("cluster",
        coalesce(col("cluster"), col(s"`$idCol`").cast("long")))
      .drop("__lid")
    val h = graft.functions.SketchFunctions.md5_low32(
      concat_ws(":", col("cluster").cast("string"), lit(salt)))
    val cum = cuts.scanLeft(0.0)(_ + _._2).tail
    val thresholds = cum.map(f => math.floor(f * 4294967296.0).toLong)
    val split = cuts.init.zip(thresholds.init).foldRight(
      lit(cuts.last._1): org.apache.spark.sql.Column) {
      case (((name, _), thr), acc) => when(h < thr, lit(name)).otherwise(acc)
    }
    withCluster.withColumn("split", split)
  }

  /** Deterministic k-fold assignment for cross-validation: `fold =
    * md5_low32(id:salt) mod k` — a pure function of (id, salt), so the
    * same row lands in the same fold on any engine, partitioning, or
    * re-run (the [[leakageSafeSplit]] hash discipline, modular instead
    * of thresholded because folds are equal-sized by construction).
    * Row-local — no shuffle. Output: input rows + `fold` in [0, k).
    */
  def kFold(df: org.apache.spark.sql.DataFrame, idCol: String, k: Int,
            salt: String = "fold0"): org.apache.spark.sql.DataFrame = {
    require(k > 1, "need at least 2 folds")
    df.withColumn("fold", pmod(graft.functions.SketchFunctions.md5_low32(
      concat_ws(":", col(s"`$idCol`").cast("string"), lit(salt))),
      lit(k.toLong)))
  }
}
