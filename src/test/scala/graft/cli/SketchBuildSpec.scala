package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.RobustCsv
import graft.profile.Profiler
import graft.sources.{CsvScan, Lake, LakeScan}

/** `SketchBuild.build` — the one lake-to-catalog composition. Fallback
  * tables (CSV rejects, unsupported parquet types) ride the same keyed
  * long relation as the executor-decoded ones, so the catalog must equal
  * the per-table composition it replaces and profile mixed lakes whole.
  */
class SketchBuildSpec extends SparkSpec {
  import spark.implicits._

  private def write(dir: java.nio.file.Path, name: String, content: String): Unit =
    java.nio.file.Files.write(dir.resolve(name), content.getBytes("UTF-8"))

  /** Row renders; `mean`/`std` ride order-dependent double summation, so
    * they compare at 6 dp (the parity convention of `LakeScanSpec`). */
  private def canon(profiles: DataFrame): Seq[String] =
    profiles.withColumn("mean", round(col("mean"), 6))
      .withColumn("std", round(col("std"), 6))
      .orderBy("table_name", "col_idx").toJSON.collect().toSeq

  private def canonSnap(snapshots: DataFrame): Seq[String] =
    snapshots.select("table_name", "content_snapshot")
      .orderBy("table_name").toJSON.collect().toSeq

  private def aggCount(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  /** A CSV lake: one clean file, `nRagged` files with a malformed row
    * (the strict decoder rejects them whole; the driver chain drops the
    * bad row and keeps ≥5), and one sub-5-row file. */
  private def csvLake(nRagged: Int,
                      d: java.nio.file.Path = java.nio.file.Files.createTempDirectory(
                        "graft_build_csv")): String = {
    write(d, "clean.csv",
      "id,amount,day,note\n" +
      "1,1.5,2021-01-15,hello\n2,2.5,2021-02-20,\"with,comma\"\n" +
      "3,3.75,,x y\n4,4.0,2021-04-01,world\n5,500.0,2021-05-05,\n" +
      "6,6.25,2021-06-15,zz\n")
    (1 to nRagged).foreach { i =>
      write(d, s"ragged$i.csv",
        "a,b\n1,x\n2,y,EXTRA\n3,z\n4,w\n5,v\n6,u\n" + s"$i,t$i\n")
    }
    write(d, "tiny.csv", "a,b\n1,x\n2,y\n3,z\n")
    d.toString
  }

  test("CSV lake: catalog equals the scan + per-table fallback composition") {
    val dir = csvLake(nRagged = 1)
    val catalog = SketchBuild.build(spark, dir)

    val names = CsvScan.tableNames(RobustCsv.listTables(spark, dir))
    val scan = CsvScan.scanLake(spark, names, RobustCsv.RowCap)
    assert(scan.rejected.map(names) == Seq("ragged1"))
    val fallback = scan.rejected.flatMap(p =>
      RobustCsv.read(spark, p).map(df => names(p) -> df))
    val profiles = (Profiler.profileFromLong(LakeScan.renderLong(scan.cells)) +:
      fallback.map { case (n, df) => Profiler.profile(df, n) })
      .reduce(_ unionByName _)
    val snapshots = (LakeScan.snapshotFromRaw(scan.cells) +:
      fallback.map { case (n, df) => Profiler.contentSnapshot(df, n) })
      .reduce(_ unionByName _)

    assert(catalog.profiles.select("table_name").distinct().as[String]
      .collect().toSet == Set("clean", "ragged1"))
    assert(canon(catalog.profiles) == canon(profiles))
    assert(canonSnap(catalog.snapshots) == canonSnap(snapshots))
    catalog.release()
    scan.release()
  }

  test("CSV lake: one profile aggregate however many files fall back") {
    val one = SketchBuild.build(spark, csvLake(nRagged = 1))
    val three = SketchBuild.build(spark, csvLake(nRagged = 3))
    assert(aggCount(one.profiles) == aggCount(three.profiles),
      s"profile aggregates grew with fallback count: " +
        s"${aggCount(one.profiles)} -> ${aggCount(three.profiles)}")
    assert(three.profiles.select("table_name").distinct().count() == 4)
    one.release()
    three.release()
  }

  test("parquet lake with a decimal table: every table gets a profile and snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_build_pq").toString
    Seq((1L, BigDecimal("1.23")), (2L, BigDecimal("4.56")), (3L, null))
      .toDF("id", "dec").write.mode("overwrite").parquet(s"$dir/money.parquet")
    (1 to 12).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "v", "x")
      .write.mode("overwrite").parquet(s"$dir/plain.parquet")
    val catalog = SketchBuild.build(spark, dir)

    val byTable = catalog.profiles.groupBy("table_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTable == Map("money" -> 2L, "plain" -> 3L), s"tables: $byTable")
    assert(catalog.snapshots.select("table_name").as[String].collect().sorted
      .toSeq == Seq("money", "plain"))

    // the decimal table is the ordinary per-table profile and snapshot
    val money = Lake.read(spark, dir, "money", Some(RobustCsv.RowCap))
    assert(canon(catalog.profiles.filter(col("table_name") === "money")) ==
      canon(Profiler.profile(Lake.read(spark, dir, "money"), "money")))
    assert(canonSnap(catalog.snapshots.filter(col("table_name") === "money")) ==
      canonSnap(Profiler.contentSnapshot(money, "money")))
    // the plain table is the lake scan's
    val scan = LakeScan.scanLake(spark, dir, Seq("plain"), Some(RobustCsv.RowCap))
    assert(canon(catalog.profiles.filter(col("table_name") === "plain")) ==
      canon(Profiler.profileFromLong(LakeScan.renderLong(scan.cells))))
    assert(canonSnap(catalog.snapshots.filter(col("table_name") === "plain")) ==
      canonSnap(LakeScan.snapshotFromRaw(scan.cells)))
    scan.release()
    catalog.release()
  }

  test("parquet lake given as a file:// URI builds the same catalog as its path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_build_uri")
    (1 to 8).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir.resolve("a.parquet").toString)
    (1 to 6).map(i => (i.toLong, i * 1.5)).toDF("k", "x").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("b.parquet").toString)
    val byUri = SketchBuild.build(spark, dir.toUri.toString)
    val byPath = SketchBuild.build(spark, dir.toString)
    assert(byUri.profiles.select("table_name").distinct().as[String].collect().sorted
      .toSeq == Seq("a", "b"))
    assert(canon(byUri.profiles) == canon(byPath.profiles))
    assert(canonSnap(byUri.snapshots) == canonSnap(byPath.snapshots))
    byUri.release()
    byPath.release()
  }

  /** Builds the lake `mk` writes under a plain directory name and under
    * one with a space; asserts both catalogs are equal. */
  private def assertSpacedDirBuildsSame(mk: java.nio.file.Path => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_build_space")
    val dirs = Seq("lake", "my lake").map(n => java.nio.file.Files.createDirectory(root.resolve(n)))
    dirs.foreach(mk)
    val Seq(plain, spaced) = dirs.map(d => SketchBuild.build(spark, d.toString))
    assert(plain.profiles.count() > 0)
    assert(canon(spaced.profiles) == canon(plain.profiles))
    assert(canonSnap(spaced.snapshots) == canonSnap(plain.snapshots))
    plain.release()
    spaced.release()
  }

  test("a CSV lake under a directory name with a space builds the same catalog") {
    assertSpacedDirBuildsSame(d => csvLake(nRagged = 1, d))
  }

  test("a parquet lake under a directory name with a space builds the same catalog") {
    assertSpacedDirBuildsSame { d =>
      (1 to 8).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .write.mode("overwrite").parquet(d.resolve("a.parquet").toString)
      (1 to 6).map(i => (i.toLong, i * 1.5)).toDF("k", "x").coalesce(1)
        .write.mode("overwrite").parquet(d.resolve("b.parquet").toString)
    }
  }

  test("a parquet table with no parquet leaf fails the build, not vanishes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_build_hollow")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir.resolve("plain.parquet").toString)
    val hollow = java.nio.file.Files.createDirectory(dir.resolve("hollow.parquet"))
    java.nio.file.Files.createFile(hollow.resolve("_SUCCESS"))
    val scan = LakeScan.scanLake(spark, dir.toString, Seq("hollow", "plain"), Some(10))
    assert(scan.rejected == Seq("hollow"))
    scan.release()
    intercept[org.apache.spark.sql.AnalysisException](SketchBuild.build(spark, dir.toString))
  }

  test("lake_csv_unified releases its build: two runs leave nothing cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (_ <- 1 to 2)
      assert(graft.SparkEntry.queries("lake_csv_unified")(spark, "unused").collect().nonEmpty)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs left persisted: ${left.mkString(", ")}")
  }
}
