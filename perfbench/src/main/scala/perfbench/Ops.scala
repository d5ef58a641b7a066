package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ingest.RobustCsv
import graft.profile.Profiler
import graft.search.Discovery
import graft.sources.{CsvScan, LakeScan}
import graft.store.SketchStore

sealed abstract class SearchKind(val name: String)
case object UnionSearch extends SearchKind("union")
case object SubsetSearch extends SearchKind("subset")
case object SnapshotSearch extends SearchKind("snapshot")

/** The three operations, calling the program's public functions in the
  * order `cli.SketchBuild` calls them. Every call into a layer sits in
  * its own span. With `materialize` on (the traced run), each layer's
  * output is cached at its boundary, so the next layer's span times only
  * its own work; otherwise Spark's laziness is left as the program has it. */
final class Ops(spark: SparkSession, tracer: Tracer, materialize: Boolean) {

  private def sp[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Cache `df` now (traced run only); the returned action releases it. */
  private def boundary(df: DataFrame): (DataFrame, () => Unit) =
    if (!materialize) (df, () => ())
    else {
      df.persist()
      df.write.format("noop").mode("overwrite").save()
      (df, () => { df.unpersist(); () })
    }

  /** list → decode → fallback read of rejected files, as SketchBuild,
    * under the span names `spans` (list, decode, fallback). */
  private def decode(dir: String, spans: (String, String, String))(
      use: (CsvScan.ScanResult, Seq[(String, DataFrame)]) => Unit): Unit = {
    val csvs = sp(spans._1) { RobustCsv.listTables(spark, dir) }
    val (names, scan) = sp(spans._2) {
      val names = CsvScan.tableNames(csvs)
      (names, CsvScan.scanLake(spark, names, RobustCsv.RowCap))
    }
    var fallback = Seq.empty[(String, DataFrame)]
    try {
      fallback = sp(spans._3) {
        val fb = scan.rejected.flatMap { p =>
          RobustCsv.read(spark, p).map(df => names(p) -> df.persist())
        }
        if (materialize) fb.foreach(_._2.write.format("noop").mode("overwrite").save())
        fb
      }
      require(fallback.nonEmpty || scan.cells.limit(1).count() > 0,
        s"no readable tables under $dir")
      use(scan, fallback)
    } finally {
      scan.release()
      fallback.foreach(_._2.unpersist())
    }
  }

  private def profiles(scan: CsvScan.ScanResult,
                       fallback: Seq[(String, DataFrame)]): DataFrame =
    (Profiler.profileFromLong(LakeScan.renderLong(scan.cells)) +:
      fallback.map { case (n, df) => Profiler.profile(df, n) })
      .reduce(_ unionByName _)

  /** A cold catalog build of the CSV lake `dir` into `store`. */
  def build(dir: String, store: String): Unit = sp("build") {
    decode(dir, ("ingest.list", "sources.decode", "ingest.fallback")) { (scan, fallback) =>
      val (pro, freePro) = sp("profile") { boundary(profiles(scan, fallback)) }
      val (snap, freeSnap) = sp("sources.snapshot") {
        boundary((LakeScan.snapshotFromRaw(scan.cells) +:
          fallback.map { case (n, df) => Profiler.contentSnapshot(df, n) })
          .reduce(_ unionByName _))
      }
      sp("store.write") {
        SketchStore.writeParquet(pro, s"$store/profiles")
        snap.write.mode("overwrite").parquet(s"$store/snapshots")
      }
      freePro(); freeSnap()
    }
  }

  /** Re-profile the (grown) tables under `dir` and upsert them. */
  def upsert(dir: String, store: String): Unit = sp("upsert") {
    decode(dir, ("upsert.list", "upsert.decode", "upsert.fallback")) { (scan, fallback) =>
      val (pro, free) = sp("upsert.profile") { boundary(profiles(scan, fallback)) }
      sp("store.upsert") { SketchStore.upsertParquet(pro, s"$store/profiles") }
      free()
    }
  }

  /** Read the catalog and answer one top-k question about `query`. */
  def search(kind: SearchKind, query: String, store: String, k: Int): Seq[Hit] =
    sp("search") {
      val (rel, free) = sp("store.read") {
        boundary(kind match {
          case SnapshotSearch => spark.read.parquet(s"$store/snapshots")
          case _              => SketchStore.readParquet(spark, s"$store/profiles")
        })
      }
      val rows = sp("search.exec") {
        (kind match {
          case UnionSearch    => Discovery.searchUnionable(rel, query, k)
          case SubsetSearch   => Discovery.searchSubset(rel, query, k)
          case SnapshotSearch => Discovery.searchTables(rel, query, k)
        }).collect().toSeq
      }
      free()
      rows.map(Ops.hit(kind, _))
    }

  /** Column pairs (table pairs for snapshots) one search scores. */
  def pairsScored(kind: SearchKind, query: String, store: String): Long = {
    val pro = SketchStore.readParquet(spark, s"$store/profiles")
    kind match {
      case UnionSearch  => Discovery.columnDistances(pro, query).count()
      case SubsetSearch => Discovery.columnDistancesContainment(pro, query).count()
      case SnapshotSearch =>
        spark.read.parquet(s"$store/snapshots")
          .filter(org.apache.spark.sql.functions.col("table_name") =!= query).count()
    }
  }

  /** Wall seconds of the profile with (sketches, quantiles) off/off,
    * on/off and on/on over an already-decoded lake: the stats cost and
    * the marginal costs of MinHash and exact deciles. */
  def profileVariants(dir: String): (Double, Double, Double) = {
    var out = (0.0, 0.0, 0.0)
    val csvs = RobustCsv.listTables(spark, dir)
    val scan = CsvScan.scanLake(spark, CsvScan.tableNames(csvs), RobustCsv.RowCap)
    try {
      def secs(sketches: Boolean, quantiles: Boolean): Double = {
        val t0 = System.nanoTime()
        Profiler.profileFromLong(LakeScan.renderLong(scan.cells, renderNumerics = sketches),
          sketches, quantiles).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val stats = secs(sketches = false, quantiles = false)
      val sketch = secs(sketches = true, quantiles = false)
      val full = secs(sketches = true, quantiles = true)
      out = (stats, sketch - stats, full - sketch)
    } finally scan.release()
    out
  }

  /** The catalog's profile rows. */
  def readProfiles(store: String): Seq[ProfRow] =
    SketchStore.readParquet(spark, s"$store/profiles")
      .select("table_name", "col_name", "col_type", "rows", "num_nan", "unique")
      .collect().toSeq.map(r => ProfRow(r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))

  def readSnapshotTables(store: String): Seq[String] =
    spark.read.parquet(s"$store/snapshots").select("table_name").collect().toSeq
      .map(_.getString(0))
}

object Ops {
  def hit(kind: SearchKind, r: Row): Hit = kind match {
    case SnapshotSearch =>
      Hit(r.getAs[String]("cand_table"), 0L, -r.getAs[Double]("jaccard"))
    case _ =>
      Hit(r.getAs[String]("cand_table"), r.getAs[Long]("matched_cols"),
        r.getAs[Double]("sum_dist"))
  }
}
