package graft

import org.apache.spark.sql.SparkSession

/** The local session the query mains run in (`Verify`, `Bench`,
  * `tools.PlanDump`, `tools.QueryProfile`, `tools.SketchDemo`):
  * `SPARK_GRAFT_CPUS` cores (default 32) and as many shuffle
  * partitions, 8 MB scan splits, AQE, a UTC session clock and no UI.
  */
object LocalSpark {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    // small-SF tables are single-file parquet; at the default 128 MB
    // split budget every scan is ONE task and scan-stage map work
    // (tokenize/explode/hash) runs on one core of 32. 8 MB splits the
    // local tables into enough tasks to use the box; on a real lake
    // file count provides the parallelism and this stays sane.
    // Every registered query is partitioning-invariant by contract
    // (pinned across the spec suite), so this is pure tuning.
    .config("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // parquet TIMESTAMP(NANOS) columns read as longs, which `Lake.read`
    // converts to micros timestamps (see `graft.sources.Lake`)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
