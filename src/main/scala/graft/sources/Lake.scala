package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, Metadata}

/** Lake table reader.
  *
  * Spark 4 rejects parquet TIMESTAMP(NANOS) columns outright
  * (PARQUET_TYPE_ILLEGAL); earlier driver lakes stored `events.ts` that
  * way (current testdata is micros, which reads natively). The ns path is
  * kept defensively: read nanos as raw longs
  * (`spark.sql.legacy.parquet.nanosAsLong`) and convert to a micros
  * TimestampType column — the same ns→us truncation DuckDB applies when
  * it loads TIMESTAMP_NS into its us-precision TIMESTAMP, so both
  * engines see identical values either way.
  */
object Lake {

  /** Repartition up to the session's default parallelism when the source
    * is too small to parallelize naturally (e.g. one parquet row group).
    * No-op on already-large inputs — the 100 TB case keeps its natural
    * layout. Parallelism is ESTIMATED from optimizer size stats
    * (`sizeInBytes / files.maxPartitionBytes` ≈ the split count a scan
    * would get): `df.rdd.getNumPartitions` would be exact but forces eager
    * physical planning + RDD materialization of the subtree on every call,
    * paying the full planner twice per query.
    */
  def balance(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val sizeInBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // Plans without real size stats surface the defaultSizeInBytes sentinel
    // (Long.MaxValue by default) — possibly multiplied up by parent
    // operators. Trusting it would skip the repartition on a genuinely
    // single-partition input, so fall back to the EXACT partition count
    // there (pays eager physical planning, but only on the no-stats path).
    val estParts =
      if (sizeInBytes >= spark.sessionState.conf.defaultSizeInBytes)
        df.rdd.getNumPartitions.toLong
      else (sizeInBytes / maxPartBytes + 1).toLong
    if (estParts < target) df.repartition(target) else df
  }

  /** Cap-ordering key per driver-lake table — the ordering that makes the
    * O1 row cap deterministic across engines (see [[read]]). The ordering
    * must be TOTAL up to full-row duplicates, or a tie straddling the cap
    * boundary makes the selected row SET engine-dependent: the driver's
    * lineitem is sampled with replacement, so (l_orderkey, l_linenumber)
    * is NOT unique (at sf0.1 a duplicate pair sat exactly at rank 10000
    * and flipped one profile count vs the oracle) — its key is therefore
    * the full column list; remaining ties are identical rows, which any
    * engine may pick interchangeably. Single-column keys below are
    * genuinely unique in the generated data.
    */
  val TableKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** The tables of a parquet lake: every `*.parquet` entry (a file, or a
    * directory of part files) directly under `dir`, listed through the
    * Hadoop FS, so `dir` may be a plain path or a URI. */
  def listTables(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path).toSeq
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, dir, name, None)

  /** Read a lake table, optionally capped to the first `rowCap` rows BY
    * TABLE KEY (O1 — the reference reads `nrows=10000`,
    * `data_prep.py:27`). A keyed cap plans as TakeOrderedAndProject
    * (per-partition top-N, no full sort) and selects the SAME rows on
    * every engine, partitioning, and parquet row-group layout — a bare
    * `LIMIT n` is nondeterministic on parallel scans in Spark AND DuckDB
    * (both grab whichever row groups finish first), which silently
    * diverged at sf0.1 on the one file-shuffled table. For key-ordered
    * files (the normal lake layout) keyed cap == the reference's
    * first-N-file-rows. Tables without a known key fall back to the
    * parquet `_metadata.row_index` per-file cap.
    */
  def read(spark: SparkSession, dir: String, name: String, rowCap: Option[Int]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df0 = spark.read.parquet(s"$dir/$name.parquet")
    val df = rowCap match {
      case Some(n) =>
        TableKeys.get(name) match {
          case Some(keys) => df0.orderBy(keys.map(col): _*).limit(n)
          case None =>
            df0.select(col("*"), col("_metadata.row_index").as("__row_index"))
              .filter(col("__row_index") < n).drop("__row_index")
        }
      case None => df0
    }
    // Columns that were TIMESTAMP(NANOS) surface as LongType with parquet
    // metadata; the only such column in the driver lake is events.ts.
    // Convert any long column literally named like a timestamp.
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.dataType == LongType && (f.name == "ts" || f.name.endsWith("_ts")))
        // integer div (not `/`, which is double and loses ns precision)
        acc.withColumn(f.name, timestamp_micros(expr(s"`${f.name}` div 1000")))
      else acc
    }
  }
}
