package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

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
    * Most tables decode ON THE EXECUTORS in one scan: CSVs through
    * `CsvScan`'s strict in-task parse, parquet through `LakeScan`'s
    * decoder. The rest — CSVs the strict parser rejects (exotic charsets,
    * malformed rows, gray-zone types: the expected minority,
    * `data_prep.py:70-78`) and parquet tables whose types the decoder
    * cannot express (decimals, maps/structs, non-float lists) — are read
    * per table on the driver side (`RobustCsv.read` / `Lake.read`). Every
    * table, however decoded, feeds ONE keyed long relation and ONE
    * `Profiler.profileFromLong` call, so the plan has one aggregate
    * subtree however many files fall back. CSV table names come from
    * `CsvScan.tableNames`, which suffixes basename collisions instead of
    * letting same-named files in different subdirs overwrite each other.
    */
  def build(spark: SparkSession, inDir: String): Catalog = {
    val csvs = RobustCsv.listTables(spark, inDir)
    // (executor-decoded variant cells, per-table fallback frames, and the
    // release of the persisted decode)
    val (cells, fallback, releaseDecode) =
      if (csvs.nonEmpty) {
        val names = CsvScan.tableNames(csvs)
        val scan = CsvScan.scanLake(spark, names, RobustCsv.RowCap)
        val fallback = scan.rejected.flatMap { p =>
          RobustCsv.read(spark, p).map(df => names(p) -> df.persist())
        }
        // loud failure when NOTHING decoded: every file sub-5-row or
        // unreadable — an empty catalog written with exit 0 would look
        // like success on a misconfigured input dir
        require(fallback.nonEmpty || scan.cells.limit(1).count() > 0,
          s"no readable tables under $inDir (all files skipped or unreadable)")
        (Some(scan.cells), fallback, () => scan.release())
      } else {
        val tables = Option(new java.io.File(inDir)
            .listFiles((_, n) => n.endsWith(".parquet"))).toSeq.flatten
          .map(_.getName.stripSuffix(".parquet")).sorted
        require(tables.nonEmpty, s"no readable tables under $inDir")
        val exotic = LakeScan.unsupportedTables(spark, inDir, tables).toSet
        val unified = tables.filterNot(exotic)
        val cells =
          if (unified.isEmpty) None
          else Some(LakeScan.rawCells(spark, inDir, unified, Some(RobustCsv.RowCap))
            .persist(StorageLevel.MEMORY_AND_DISK))
        val fallback = tables.filter(exotic).map { t =>
          t -> Lake.read(spark, inDir, t, Some(RobustCsv.RowCap)).persist()
        }
        (cells, fallback, () => cells.foreach(_.unpersist()))
      }
    val long = (cells.map(LakeScan.renderLong(_)) ++
      fallback.map { case (n, df) => Profiler.longFormatKeyed(df, n) })
      .reduce(_ unionByName _)
    val snapshots = (cells.map(LakeScan.snapshotFromRaw) ++
      fallback.map { case (n, df) => Profiler.contentSnapshot(df, n) })
      .reduce(_ unionByName _)
    Catalog(Profiler.profileFromLong(long), snapshots, () => {
      releaseDecode()
      fallback.foreach(_._2.unpersist())
    })
  }

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

    val written = spark.read.parquet(s"$outDir/profiles")
    val nTables = written.select("table_name").distinct().count()
    println(s"[sketch-build] $nTables tables, ${written.count()} column profiles -> $outDir")
    spark.stop()
  }
}
