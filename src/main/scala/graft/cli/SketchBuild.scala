package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.RobustCsv
import graft.profile.Profiler
import graft.sources.{CsvScan, Lake, LakeScan}
import graft.store.SketchStore

/** E1 entry point — the reference's sketch-build batch
  * (`/root/reference/tabsketchfm/batch_fastdata_opendata.py` +
  * `data_prep.py:prep_data`) as one Spark job:
  *
  *   enumerate CSVs → robust read (fallback chain, 10k cap, date
  *   promotion) → profile (stats + sketches) → content snapshot →
  *   parquet catalog (+ optional json.bz2 parity docs).
  *
  * Usage: sbt "runMain graft.cli.SketchBuild <inputDir> <outputDir> [--json]"
  * Accepts a directory of CSVs or of parquet tables.
  */
object SketchBuild {

  /** A built lake catalog: per-column `profiles` and per-table
    * `snapshots`, both lazy over the persisted decode and fallback
    * frames. `release()` drops those caches once the catalog is written
    * (or otherwise consumed). */
  final case class Catalog(profiles: DataFrame, snapshots: DataFrame,
                           release: () => Unit)

  /** Sketch every table under `inDir` — a directory of CSVs, or else of
    * parquet tables — into one catalog, capped at the reference's 10k rows.
    *
    * One arm for both formats: list the lake through the Hadoop FS (so
    * `inDir` may be a path or a URI), decode it ON THE EXECUTORS in one
    * scan (`CsvScan`'s strict in-task parse, or `LakeScan`'s decoder),
    * and read the inputs that scan rejects per table on the driver side
    * (`RobustCsv.read` / `Lake.read`): CSVs the strict parser cannot
    * mirror (exotic charsets, malformed rows, gray-zone types: the
    * expected minority, `data_prep.py:70-78`) and parquet tables whose
    * types the decoder cannot express (decimals, maps/structs, non-float
    * lists). Every table, however decoded, feeds ONE keyed long relation
    * and ONE `Profiler.profileFromLong` call, so the plan has one
    * aggregate subtree however many inputs fall back. CSV table names come
    * from `CsvScan.tableNames`, which suffixes basename collisions instead
    * of letting same-named files in different subdirs overwrite each
    * other. CSVs under 5 rows are skipped (P4); a parquet table with no
    * parquet leaf fails the build in `Lake.read`.
    */
  def build(spark: SparkSession, inDir: String): Catalog = {
    val cap = RobustCsv.RowCap
    val csvs = RobustCsv.listTables(spark, inDir)
    // the format's scan, and its driver-side reader of one rejected input
    val (scan, readRejected) =
      if (csvs.nonEmpty) {
        val names = CsvScan.tableNames(csvs)
        (CsvScan.scanLake(spark, names, cap),
          (p: String) => RobustCsv.read(spark, p).map(names(p) -> _))
      } else {
        val tables = Lake.listTables(spark, inDir)
        require(tables.nonEmpty, s"no readable tables under $inDir")
        (LakeScan.scanLake(spark, inDir, tables, Some(cap)),
          (t: String) => Some(t -> Lake.read(spark, inDir, t, Some(cap))))
      }
    val fallback =
      try {
        val read = scan.rejected.flatMap(readRejected).map { case (n, df) => n -> df.persist() }
        // loud failure when NOTHING decoded: every file sub-5-row or
        // unreadable — an empty catalog written with exit 0 would look
        // like success on a misconfigured input dir. A parquet table is
        // either decoded or read above, so only a CSV lake can come out empty
        require(csvs.isEmpty || read.nonEmpty || scan.cells.limit(1).count() > 0,
          s"no readable tables under $inDir (all files skipped or unreadable)")
        read
      } catch { case e: Exception => scan.release(); throw e }
    val long = (LakeScan.renderLong(scan.cells) +:
      fallback.map { case (n, df) => Profiler.longFormatKeyed(df, n) })
      .reduce(_ unionByName _)
    val snapshots = (LakeScan.snapshotFromRaw(scan.cells) +:
      fallback.map { case (n, df) => Profiler.contentSnapshot(df, n) })
      .reduce(_ unionByName _)
    Catalog(Profiler.profileFromLong(long), snapshots, () => {
      scan.release()
      fallback.foreach(_._2.unpersist())
    })
  }

  /** The E1 CLI: `SketchBuild <inputDir> <outputDir> [--json]` writes
    * the lake's profiles/ and snapshots/ catalog. It keeps its own
    * session builder rather than `graft.LocalSpark.session()`: its master
    * comes from `SPARK_MASTER` and it pins no session time zone, so
    * moving it would change the catalogs the CLI writes. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SketchBuild <inputDir> <outputDir> [--json]")
    val (inDir, outDir) = (args(0), args(1))
    val writeJson = args.contains("--json")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-sketch-build")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val catalog = build(spark, inDir)
    SketchStore.writeParquet(catalog.profiles, s"$outDir/profiles")
    catalog.snapshots.write.mode("overwrite").parquet(s"$outDir/snapshots")
    catalog.release()
    if (writeJson) SketchStore.writeJsonBz2(
      SketchStore.readParquet(spark, s"$outDir/profiles"),
      spark.read.parquet(s"$outDir/snapshots"), s"$outDir/docs_json")

    val written = SketchStore.readParquet(spark, s"$outDir/profiles")
    val nTables = written.select("table_name").distinct().count()
    println(s"[sketch-build] $nTables tables, ${written.count()} column profiles -> $outDir")
    spark.stop()
  }
}
