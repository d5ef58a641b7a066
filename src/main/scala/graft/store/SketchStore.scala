package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/** Sketch store (S7/S8) — persists the long-format profile catalog.
  *
  * Primary format is Parquet; a JSON-lines writer with bz2 codec keeps
  * format parity with the reference's `{hash}.json.bz2` documents
  * (`/root/reference/tabsketchfm/data_prep.py:150-163`) — one JSON object
  * per table with nested column sketches.
  *
  * Layout: `path/bucket=B/part-….parquet`, where
  * `B = pmod(hash(table_name), Buckets)` and `table_name` is a data
  * column. Each bucket is one file, sorted by `(table_name, col_idx)` so
  * parquet statistics prune a single table's rows. The file count is
  * fixed whatever the table count, and stays under Spark's
  * `parallelPartitionDiscovery.threshold` (32), so listing the store
  * never becomes a job; the schema comes from one footer on the driver,
  * so [[readParquet]] launches no job at all. A store in the old
  * per-table layout (`table_name=…` directories) is refused with an error
  * naming the path: rebuild it with [[writeParquet]].
  */
object SketchStore {

  /** Hash buckets of the store: fixed, and ≤ 32 so listing stays on the
    * driver. */
  private[store] val Buckets = 16

  private[store] def bucketOf(tableName: Column): Column =
    pmod(hash(tableName), lit(Buckets))

  /** Write `rows` (carrying `bucket`) partitioned by bucket, each task's
    * rows sorted by bucket, table and column: a task writes one file per
    * bucket it holds. */
  private def writeBuckets(rows: DataFrame, path: String, dynamic: Boolean): Unit = {
    val w = rows.sortWithinPartitions("bucket", "table_name", "col_idx")
      .write.mode(SaveMode.Overwrite)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("bucket").parquet(path)
  }

  /** Write the profile catalog; dedup on table identity first
    * (`dropDuplicates`, mirroring the collision skip at `data_prep.py:
    * 153-156`). One shuffle: hash-partitioning by `table_name` into
    * [[Buckets]] partitions puts partition `p` exactly on bucket `p`
    * (the same Murmur3 hash and `pmod`), and also satisfies the dedup, so
    * each bucket is written by one task into one file.
    */
  def writeParquet(profiles: DataFrame, path: String): Unit =
    writeBuckets(profiles.repartition(Buckets, col("table_name"))
      .dropDuplicates("table_name", "col_idx")
      .withColumn("bucket", bucketOf(col("table_name"))), path, dynamic = false)

  /** The catalog in today's shape: every profile column in written order,
    * `table_name` last, no `bucket`. No Spark job runs: the schema is
    * one footer's, and the ≤ [[Buckets]] directories are listed on the
    * driver. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val stored = storedSchema(spark, path).getOrElse(throw new IllegalArgumentException(
      s"SketchStore: no catalog files under $path"))
    scan(spark, path, stored)
      .select((stored.fieldNames.filterNot(_ == "table_name") :+ "table_name").map(col).toSeq: _*)
  }

  /** Upsert freshly-profiled tables into an existing catalog: only the
    * buckets holding those tables are rewritten, every other bucket's
    * files stay untouched — the catalog-maintenance half of the
    * incremental story (re-profile what changed, `Incremental.merge` what
    * grew, never touch the rest).
    *
    * The fresh rows are computed once, by collecting them to the driver
    * (they are the profile rows of the upserted tables, deduplicated on
    * `(table_name, col_idx)` there). The touched buckets are read back
    * (partition-pruned), the touched tables' old rows dropped, the fresh
    * rows unioned in, and the result written by one task, one file per
    * bucket, with dynamic partition overwrite: two jobs in all, however
    * many tables the store holds. Reading a bucket in the job that
    * overwrites it is safe because dynamic overwrite stages the new
    * files and swaps each bucket directory in only at job commit, after
    * every read has finished. Cost: an upsert rewrites the whole of each
    * touched bucket, so up to `min(tables, Buckets)/Buckets` of the
    * catalog. The mode rides the writer option, so the session's conf is
    * never touched. A path with no catalog yet gets a new store; fresh
    * rows whose schema (names and types, in order) differs from the
    * store's are refused.
    */
  def upsertParquet(profiles: DataFrame, path: String): Unit = {
    val spark = profiles.sparkSession
    val stored = storedSchema(spark, path)
    stored.foreach { s =>
      def shape(t: StructType) = t.fields.map(f => f.name -> f.dataType.catalogString).toSeq
      if (shape(s) != shape(profiles.schema)) throw new IllegalArgumentException(
        s"SketchStore: rows upserted into $path have schema ${profiles.schema.simpleString}, " +
          s"the store has ${s.simpleString}")
    }
    val withBucket = profiles.withColumn("bucket", bucketOf(col("table_name")))
    val key = Seq(withBucket.schema.fieldIndex("table_name"), withBucket.schema.fieldIndex("col_idx"))
    val fresh = withBucket.collect().toSeq.groupBy(r => key.map(r.get)).values
      .map(_.head).toSeq
    val rows = spark.createDataFrame(java.util.Arrays.asList(fresh: _*), withBucket.schema)
    val merged = stored.fold(rows) { s =>
      val tables = fresh.map(_.getAs[String]("table_name")).distinct
      val buckets = fresh.map(_.getAs[Int]("bucket")).distinct
      scan(spark, path, s)
        .filter(col("bucket").isin(buckets: _*) && !col("table_name").isin(tables: _*))
        .unionByName(rows)
    }
    writeBuckets(merged.coalesce(1), path, dynamic = true)
  }

  /** The bucket store under `path` as written: the stored columns plus
    * the `bucket` partition column. */
  private def scan(spark: SparkSession, path: String, stored: StructType): DataFrame =
    spark.read.schema(stored.add("bucket", IntegerType)).parquet(path)

  /** The stored schema, from the Spark row metadata of one bucket file's
    * footer; None when `path` holds no bucket file yet. An old per-table
    * store fails loudly here rather than reading back without
    * `table_name`. */
  private def storedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) None
    else {
      val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).sorted
      if (dirs.exists(_.startsWith("table_name="))) throw new IllegalStateException(
        s"SketchStore: $path is a catalog in the old per-table layout (table_name=… " +
          "directories); rebuild the catalog (SketchStore.writeParquet or SketchBuild)")
      dirs.iterator.filter(_.startsWith("bucket="))
        .flatMap(d => fs.listStatus(new Path(root, d)).filter(_.getPath.getName.endsWith(".parquet")))
        .nextOption().map(footerSchema(_, conf))
    }
  }

  private def footerSchema(file: FileStatus, conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    try {
      val json = reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get(ParquetReadSupport.SPARK_METADATA_KEY)
      require(json != null, s"SketchStore: ${file.getPath} carries no Spark schema")
      DataType.fromJson(json).asInstanceOf[StructType]
    } finally reader.close()
  }

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
