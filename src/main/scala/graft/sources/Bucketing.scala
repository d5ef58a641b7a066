package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed storage for co-located joins (SURVEY §4 scale tactics).
  *
  * At 100 TB the dominant cost of a fact-fact join is the shuffle of both
  * sides. Writing each relation bucketed (and sorted) by its join key
  * makes every subsequent join/aggregation on that key shuffle-free: the
  * scan reports `HashPartitioning(nBuckets)` and Catalyst drops the
  * Exchange on both sides (`BucketedJoinSpec` asserts exactly that on the
  * physical plan). The reference has no analogue — its single-node engine
  * never pays a shuffle — so this is pure Spark-first design, not a port.
  */
object Bucketing {

  /** Write `df` into the session catalog bucketed+sorted by `key`.
    * `nBuckets` should be sized so one bucket of the LARGER relation fits
    * an executor's memory at target scale (bucket ≈ totalBytes/nBuckets).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int = 128): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Co-located equi-join of two identically-bucketed catalog tables.
    * With matching bucket counts on the join keys this plans as a
    * SortMergeJoin with zero Exchange operators.
    */
  def bucketedJoin(spark: SparkSession, left: String, right: String,
                   leftKey: String, rightKey: String): DataFrame =
    spark.table(left).join(spark.table(right),
      spark.table(left)(leftKey) === spark.table(right)(rightKey))
}
