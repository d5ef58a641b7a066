package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch store (S7/S8) — persists the long-format profile catalog.
  *
  * Primary format is Parquet (partitioned for pruning); a JSON-lines
  * writer with bz2 codec keeps format parity with the reference's
  * `{hash}.json.bz2` documents (`/root/reference/tabsketchfm/data_prep.py:
  * 150-163`) — one JSON object per table with nested column sketches.
  */
object SketchStore {

  /** Write the profile catalog; dedup on table identity first
    * (`dropDuplicates`, mirroring the collision skip at `data_prep.py:
    * 153-156`).
    */
  def writeParquet(profiles: DataFrame, path: String): Unit =
    profiles.dropDuplicates("table_name", "col_idx")
      .write.mode(SaveMode.Overwrite)
      .partitionBy("table_name")
      .parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Upsert freshly-profiled tables into an existing catalog: dynamic
    * partition overwrite rewrites ONLY the `table_name` partitions present
    * in `profiles`, leaving every other table's sketches untouched — the
    * catalog-maintenance half of the incremental story (re-profile what
    * changed, `Incremental.merge` what grew, never touch the rest). The
    * mode rides the writer option, so the session's conf is never touched.
    */
  def upsertParquet(profiles: DataFrame, path: String): Unit =
    profiles.dropDuplicates("table_name", "col_idx")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("table_name")
      .parquet(path)

  /** Migration audit: slot-level agreement between two sketch catalogs —
    * e.g. an engine catalog re-sketched in `ReferenceMinHash` parity mode
    * vs digests parsed out of reference-produced `{hash}.json.bz2` docs.
    * One row per common (table, column): slots compared, slots equal,
    * exact-match flag. Full outer join, so columns present on only one
    * side surface as rows with null counterparts instead of vanishing.
    */
  def compareDigests(a: DataFrame, b: DataFrame,
                     digestCol: String = "minhash_exact"): DataFrame = {
    val l = a.select(col("table_name"), col("col_name"),
      col(digestCol).as("dig_a"))
    val r = b.select(col("table_name"), col("col_name"),
      col(digestCol).as("dig_b"))
    l.join(r, Seq("table_name", "col_name"), "full_outer")
      .select(col("table_name"), col("col_name"),
        when(col("dig_a").isNotNull && col("dig_b").isNotNull,
          size(col("dig_a"))).as("n_slots"),
        when(col("dig_a").isNotNull && col("dig_b").isNotNull,
          size(filter(zip_with(col("dig_a"), col("dig_b"), (x, y) => x === y),
            e => e))).as("n_equal"),
        (col("dig_a").isNotNull && col("dig_b").isNotNull &&
          col("dig_a") === col("dig_b")).as("exact_match"))
  }

  /** JSON parity writer: one document per table —
    * `{"table_metadata":{"file_name":…,"rows":…},"columns":{name:{…}}}`.
    * `codec` defaults to bzip2 for reference `{hash}.json.bz2` parity; pass
    * "none" for a plain copy third-party JSON readers (DuckDB) can parse.
    */
  def writeJsonBz2(profiles: DataFrame, snapshots: DataFrame, path: String,
                   codec: String = "bzip2"): Unit = {
    val colDoc = struct(
      col("col_name").as("name"), col("col_type").as("type"),
      col("num_nan"), col("unique"),
      col("cell_width").as("cell_width_bytes"),
      col("quantile"),
      col("minhash_exact").as("min-hash-exact"),
      col("minhash_words").as("min-hash-words"))
    val docs = profiles
      .groupBy(col("table_name"))
      .agg(max(col("rows")).as("rows"),
        map_from_entries(array_sort(collect_list(
          struct(col("col_idx"), struct(col("col_name"), colDoc.as("doc"))))))
          .as("columns_by_idx"))
      .join(snapshots, Seq("table_name"), "left")
      .select(
        struct(col("table_name").as("file_name"), col("rows")).as("table_metadata"),
        map_from_entries(transform(map_values(col("columns_by_idx")),
          e => struct(e.getField("col_name"), e.getField("doc")))).as("columns"),
        col("content_snapshot"))
    docs.write.mode(SaveMode.Overwrite)
      .option("compression", codec)
      .json(path)
  }
}
