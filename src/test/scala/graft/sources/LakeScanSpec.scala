package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.profile.Profiler

/** The lake scan (`LakeScan.scanLake` → `renderLong` → one
  * `Profiler.profileFromLong`, and `snapshotFromRaw`) must be
  * BIT-IDENTICAL to the per-table loop path on every stat, digest, and
  * quantile — the loop path is oracle-verified against DuckDB, so parity
  * transfers that verification to the scan. Plus the planning property
  * that motivates it: ONE aggregate subtree regardless of table count.
  */
class LakeScanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical row renders. `mean`/`std` ride ORDER-DEPENDENT double
    * summation (different partitionings → last-ulp drift, which is why
    * every oracle query derives them from the exact decimal sums) — those
    * two compare at 6 dp; everything else (counts, exact decimal sums,
    * quantile vectors, digests) compares bit-exactly.
    */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val rounded = df
      .withColumn("mean", round(col("mean"), 6))
      .withColumn("std", round(col("std"), 6))
    rounded.orderBy("table_name", "col_idx").toJSON.collect().toSeq
  }

  /** Run `f` over the accepted cells of one lake scan, then release it. */
  private def scanned[A](d: String, ts: Seq[String], rowCap: Option[Int] = None)(
      f: org.apache.spark.sql.DataFrame => A): A = {
    val scan = LakeScan.scanLake(spark, d, ts, rowCap)
    try f(scan.cells) finally scan.release()
  }

  /** The unified profile of scanned cells (one keyed aggregate). */
  private def profileOf(cells: org.apache.spark.sql.DataFrame,
                        withSketches: Boolean = true) =
    Profiler.profileFromLong(LakeScan.renderLong(cells, renderNumerics = withSketches),
      withSketches)

  private def assertParity(unified: org.apache.spark.sql.DataFrame,
                           loop: org.apache.spark.sql.DataFrame): Unit = {
    val (cu, cl) = (canon(unified), canon(loop))
    if (cu != cl) {
      val diffs = cu.zipAll(cl, "<missing>", "<missing>")
        .filter { case (a, b) => a != b }.take(3)
      fail(s"unified != loop (${cu.size} vs ${cl.size} rows); first diffs:\n" +
        diffs.map { case (a, b) => s"U: $a\nL: $b" }.mkString("\n---\n"))
    }
  }

  test("lake-scan profile == profileLake on the driver lake (sketches, cap)") {
    val loop = Profiler.profileLake(spark, dir, tables, rowCap = Some(10000))
    scanned(dir, tables, Some(10000)) { cells => assertParity(profileOf(cells), loop) }
  }

  test("lake-scan profile == profileLake without sketches or cap") {
    val sub = Seq("nation", "orders", "events", "embeddings")
    val loop = Profiler.profileLake(spark, dir, sub, withSketches = false)
    scanned(dir, sub) { cells =>
      assertParity(profileOf(cells, withSketches = false), loop)
    }
  }

  test("keyed row cap selects the same rows on a file-shuffled table") {
    // Write nation DELIBERATELY shuffled on disk: first-N-file-rows and
    // first-N-by-key now differ, so this catches a cap that trusts file
    // order. Lake.read's keyed cap (TakeOrdered) is the contract.
    val tmp = java.nio.file.Files.createTempDirectory("graft_shuffled").toString
    Lake.read(spark, dir, "nation")
      .orderBy(expr("hash(n_nationkey)")).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
    val loop = Profiler.profileLake(spark, tmp, Seq("nation"), rowCap = Some(10))
    scanned(tmp, Seq("nation"), Some(10)) { cells => assertParity(profileOf(cells), loop) }
  }

  test("edge schemas: bools, real DATE columns, empty strings, all-null column") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_edge").toString
    Seq(
      (1L, "a", true, java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Option.empty[String]),
      (2L, "", false, java.sql.Date.valueOf("2024-02-03"),
        java.sql.Timestamp.valueOf("2024-02-03 04:05:06.123"), Option.empty[String]),
      (3L, null, true, null, null, Option.empty[String]))
      .toDF("id", "s", "b", "d", "ts", "dead")
      .write.mode("overwrite").parquet(s"$tmp/edge.parquet")
    val loop = Profiler.profileLake(spark, tmp, Seq("edge"))
    scanned(tmp, Seq("edge")) { cells => assertParity(profileOf(cells), loop) }
  }

  /** Profile and snapshot of table `t` under `d` must equal the per-table
    * path's (`Profiler.profileLake` / `contentSnapshot` over `Lake.read`). */
  private def assertTableParity(d: String, t: String): Unit = {
    val loop = Profiler.profileLake(spark, d, Seq(t))
    val snap = Profiler.contentSnapshot(Lake.read(spark, d, t), t)
    def c(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().toSeq
    scanned(d, Seq(t)) { cells =>
      assertParity(profileOf(cells), loop)
      assert(c(LakeScan.snapshotFromRaw(cells)) == c(snap))
    }
  }

  /** Row `i` of the list fixtures: a null list every 13th row, an empty
    * list every 17th, else 1–4 elements with a null element where
    * `(i + j) % 5 == 0` (`nullElems = false` keeps those elements). */
  private def listAt(i: Int, nullElems: Boolean = true): Option[Seq[Option[Float]]] =
    if (i % 13 == 0) None
    else if (i % 17 == 0) Some(Nil)
    else Some((0 to i % 4).map { j =>
      if (nullElems && (i + j) % 5 == 0) None else Some(i * 0.25f + j)
    })

  /** Footer of the first parquet file under `tableDir`. */
  private def footerOf(tableDir: String) = {
    val f = new java.io.File(tableDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }

  private def rowGroupRows(tableDir: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    footerOf(tableDir).getBlocks.asScala.map(_.getRowCount).toSeq
  }

  test("a null element in a list<float> column decodes as null, as the per-table path reads it") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_nullelem").toString
    Seq(Seq(Some(1.0f), None), Seq(Some(2.0f))).toDF("vec")
      .write.mode("overwrite").parquet(s"$tmp/t.parquet")
    assertTableParity(tmp, "t")
  }

  test("lake-scan snapshots match per-table contentSnapshot digests") {
    val snapTables = Seq("region", "nation", "supplier", "orders")
    val loop = snapTables.map(t =>
        Profiler.contentSnapshot(Lake.read(spark, dir, t, Some(10000)), t))
      .reduce(_ unionByName _)
    def c(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("table_name").toJSON.collect().toSeq
    scanned(dir, snapTables, Some(10000)) { cells =>
      assert(c(LakeScan.snapshotFromRaw(cells)) == c(loop))
    }
  }

  test("unified plan: ONE aggregate subtree and zero unions regardless of table count") {
    def planOf(ts: Seq[String]) =
      scanned(dir, ts, Some(10000))(profileOf(_).queryExecution.optimizedPlan)
    def aggCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size
    def unionCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case u: org.apache.spark.sql.catalyst.plans.logical.Union => u }.size
    val p3 = planOf(tables.take(3))
    val p10 = planOf(tables)
    assert(unionCount(p3) == 0 && unionCount(p10) == 0,
      "unified profile plan must not union per-table branches")
    assert(aggCount(p3) == aggCount(p10),
      s"aggregate count grew with table count: ${aggCount(p3)} -> ${aggCount(p10)}")
    // the loop path, by contrast, grows linearly — the structural gap this
    // operator removes
    val loop10 = Profiler.profileLake(spark, dir, tables, rowCap = Some(10000))
      .queryExecution.optimizedPlan
    assert(unionCount(loop10) > 0 && aggCount(loop10) > aggCount(p10))
  }

  test("multi-part keyed table: global cap parity with the per-table path") {
    // customer split over 3 shuffled part files, cap WELL below the table
    // size: the per-file heap alone would keep 3x the cap — the global
    // re-selection must reduce to exactly Lake.read's ORDER BY key LIMIT n
    val tmp = java.nio.file.Files.createTempDirectory("graft_parts").toString
    Lake.read(spark, dir, "customer")
      .orderBy(expr("hash(c_custkey)")).repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val loop = Profiler.profileLake(spark, tmp, Seq("customer"), rowCap = Some(40))
    scanned(tmp, Seq("customer"), Some(40)) { cells => assertParity(profileOf(cells), loop) }
  }

  test("a capped scan reads a multi-part keyed table's files once") {
    // the global keyed cap takes its key tuples from the persisted decode,
    // so the binaryFile scan (the only stage over a FileScanRDD) runs once;
    // a second, single-file table keeps the scan's file list apart from
    // the multi-part table's own (an identical list would share its exchange)
    import org.apache.spark.scheduler._
    val tmp = java.nio.file.Files.createTempDirectory("graft_parts_once").toString
    Lake.read(spark, dir, "customer")
      .orderBy(expr("hash(c_custkey)")).repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    Lake.read(spark, dir, "nation").coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
    val parts = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/customer.parquet"))
      .filter(_.toString.endsWith(".parquet")).count()
    assert(parts == 3)
    val sc = spark.sparkContext
    val scanStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val jobGroups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanStages.add(e.stageInfo.numTasks)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobGroups.put(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val rows = scanned(tmp, Seq("customer", "nation"), Some(40)) { cells =>
        cells.filter(col("present") && col("col_idx") === 0)
          .groupBy("table_name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      assert(rows == Map("customer" -> 40L, "nation" -> 25L))
      // events arrive in order: once the sentinel job's start is seen,
      // every earlier stage completion has been too
      sc.setJobGroup("graft-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      while (jobGroups.take() != "graft-sentinel") ()
    } finally sc.removeSparkListener(listener)
    assert(scanStages.size == 1,
      s"the part files were scanned ${scanStages.size} times (tasks per scan: $scanStages)")
  }

  test("RawSchema starts with Profiler's cell key fields, then the variant slots") {
    import org.apache.spark.sql.types._
    assert(LakeScan.RawSchema.fields.take(5).toSeq ==
      Profiler.KeyedLongSchema.fields.take(5).toSeq)
    assert(LakeScan.RawSchema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq == Seq(
      ("table_name", StringType, false), ("col_idx", IntegerType, false),
      ("col_name", StringType, false), ("col_type", StringType, false),
      ("present", BooleanType, false), ("row_id", LongType, true),
      ("src_file", StringType, true), ("v_str", StringType, true),
      ("v_long", LongType, true), ("v_float", FloatType, true),
      ("v_double", DoubleType, true), ("v_ts_us", LongType, true),
      ("v_date_days", IntegerType, true), ("v_bool", BooleanType, true),
      ("v_arr", ArrayType(FloatType, containsNull = true), true),
      ("date_promoted", BooleanType, false)))
  }

  test("date-promoted staging parquet keeps its 'date' classification") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_promoted").toString
    val staged = graft.ingest.RobustCsv.promoteDates(
      Seq((1L, "2021-01-15", "x"), (2L, "2021-02-20", "y"),
        (3L, "2021-03-25", null), (4L, null, "z"), (5L, "2021-05-05", "w"))
        .toDF("id", "when_str", "note"))
    assert(Profiler.logicalType(staged.schema("when_str")) == "date") // fixture sane
    staged.write.mode("overwrite").parquet(s"$tmp/dated.parquet")
    val loop = Profiler.profileLake(spark, tmp, Seq("dated"))
    scanned(tmp, Seq("dated")) { cells =>
      val unified = profileOf(cells)
      // the promoted column must be CLASSIFIED date while its values stay
      // strings (P2 applied) — and the whole profile must stay bit-identical
      val ct = unified.filter(col("col_name") === "when_str")
        .select("col_type").collect().map(_.getString(0)).toSeq
      assert(ct == Seq("date"), s"promoted column classified $ct")
      assertParity(unified, loop)
    }
  }

  test("lake directory itself named *.parquet resolves table names correctly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lakedir").toString
    val lakeDir = s"$base/export.parquet"
    Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w"), (5L, "v"))
      .toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$lakeDir/a.parquet")
    Seq((10L, 1.5), (20L, 2.5), (30L, 3.5))
      .toDF("k", "x").coalesce(1)
      .write.mode("overwrite").parquet(s"$lakeDir/b.parquet")
    val rows = scanned(lakeDir, Seq("a", "b")) { cells =>
      profileOf(cells).select("table_name", "rows").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(rows == Map("a" -> 5L, "b" -> 3L),
      s"tables merged or misnamed: $rows")
  }

  test("nested *.parquet segments resolve to the deepest requested table") {
    import spark.implicits._
    // the lake sits under a directory named like one of its own tables:
    // every file of table "a" also has "b.parquet" among its ancestors
    val base = java.nio.file.Files.createTempDirectory("graft_nested").toString
    val lakeDir = s"$base/b.parquet/lake.parquet"
    (1 to 4).map(i => (i.toLong, s"a$i")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$lakeDir/a.parquet")
    (1 to 2).map(i => (i.toLong, i * 0.5)).toDF("k", "x").coalesce(1)
      .write.mode("overwrite").parquet(s"$lakeDir/b.parquet")
    val rows = scanned(lakeDir, Seq("a", "b"), Some(10000)) { cells =>
      profileOf(cells).select("table_name", "rows").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(rows == Map("a" -> 4L, "b" -> 2L), s"tables merged or misnamed: $rows")
  }

  test("empty table still yields one snapshot row (sentinel-fed aggregate)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_emptysnap").toString
    Seq.empty[(Long, String)].toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/hollow.parquet")
    val perTable = Profiler.contentSnapshot(
      spark.read.parquet(s"$tmp/hollow.parquet"), "hollow")
    def c(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().toSeq
    scanned(tmp, Seq("hollow"), Some(10000)) { cells =>
      val unified = LakeScan.snapshotFromRaw(cells)
      assert(unified.count() == 1, "empty table dropped from unified snapshots")
      assert(c(unified) == c(perTable))
    }
  }

  test("multi-part table named like a keyed table but WITHOUT key columns is not emptied") {
    // 'orders' is in Lake.TableKeys, but this user table lacks o_orderkey:
    // the decoder falls back to per-file capping; the global re-selection
    // must gate on key rows actually existing instead of dropping every
    // row against an empty keep set
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_keyless").toString
    (1 to 30).map(i => (s"n$i", i * 1.0)).toDF("name", "amount")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    val rows = scanned(tmp, Seq("orders"), Some(100)) { cells =>
      profileOf(cells).select("rows").distinct().collect().map(_.getLong(0)).toSeq
    }
    assert(rows == Seq(30L), s"key-less multi-part table lost rows: $rows")
  }

  test("mixed multi-part keyed table: key-less part files survive the global cap") {
    // 'orders' stored as TWO part files — one WITH o_orderkey, one without:
    // only the keyed file's rows enter the global re-selection; the
    // key-less file must keep its per-file file-order cap instead of being
    // silently dropped by a table-level has-keys gate
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mixedparts").toString
    (1 to 20).map(i => (i.toLong, s"v$i")).toDF("o_orderkey", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    (1 to 15).map(i => (s"n$i", i * 1.0)).toDF("name", "amount")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/aside")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/aside"))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$tmp/orders.parquet/part-keyless.parquet"))
    val rows = scanned(tmp, Seq("orders"), Some(10)) { cells =>
      profileOf(cells).select("col_name", "rows").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(rows("o_orderkey") == 10L && rows("v") == 10L,
      s"keyed part file mis-capped: $rows")
    assert(rows("name") == 10L && rows("amount") == 10L,
      s"key-less part file dropped or mis-capped: $rows")
  }

  test("SketchBuild.build routes unsupported-type tables through the per-table path") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_mixedtypes").toString
    Seq((1L, BigDecimal("1.23")), (2L, BigDecimal("4.56"))).toDF("id", "dec")
      .write.mode("overwrite").parquet(s"$tmp/money.parquet")
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/plain.parquet")
    scanned(tmp, Seq("money", "plain"), Some(10000)) { cells =>
      assert(cells.select("table_name").distinct().collect().map(_.getString(0))
        .toSeq == Seq("plain"))
    }
    val prof = graft.cli.SketchBuild.build(spark, tmp).profiles
    val byTable = prof.groupBy("table_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTable == Map("money" -> 2L, "plain" -> 2L),
      s"mixed lake lost tables: $byTable")
    // the fallback leg is the ordinary per-table profile, bit-identical
    val direct = Profiler.profile(Lake.read(spark, tmp, "money"), "money")
    assertParity(prof.filter(col("table_name") === "money"), direct)
  }

  test("columnar decode survives multi-row-group files and the 64k chunk boundary") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_rgs").toString
    // 150k rows (crosses two 65,536-row decode chunks) written with a
    // tiny parquet block size so the file carries MANY row groups — the
    // per-group reader/cap state machine must hand over cleanly, with
    // nulls striding every 7th row to exercise def-levels in every group
    val n = 150000
    (1 to n).map { i =>
      (i.toLong, if (i % 7 == 0) null else s"v$i",
        if (i % 11 == 0) Option.empty[Double] else Some(i * 0.5))
    }.toDF("id", "s", "x")
      .coalesce(1)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(s"$tmp/big.parquet")
    val nGroups = rowGroupRows(s"$tmp/big.parquet").size
    assert(nGroups > 3, s"fixture must span several row groups, got $nGroups")
    // uncapped: every cell must round-trip (counts + null counts + sum)
    val scan = LakeScan.scanLake(spark, tmp, Seq("big"), None)
    val cells = LakeScan.renderLong(scan.cells)
    val got = cells.filter(col("present") && col("col_name") === "x")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value_str").isNull, 1L).otherwise(0L)).as("nulls"),
        sum(col("value_num")).as("s"))
      .collect()(0)
    assert(got.getLong(0) == n)
    assert(got.getLong(1) == n / 11)
    val expectedSum = (1 to n).filter(_ % 11 != 0).map(_ * 0.5).sum
    assert(math.abs(got.getDouble(2) - expectedSum) < 1e-3)
    // keyed cap across groups == ORDER BY key LIMIT cap
    scanned(tmp, Seq("big"), Some(1000)) { capCells =>
      val capped = LakeScan.renderLong(capCells)
        .filter(col("present") && col("col_name") === "id")
      assert(capped.count() == 1000)
      // "big" has no TableKeys entry → unkeyed first-N file-order cap;
      // with one part file that is ids 1..1000 exactly
      val maxId = capped.agg(max(col("value_num"))).collect()(0).getDouble(0)
      assert(maxId == 1000.0, s"unkeyed cap must take the first rows, got max $maxId")
    }
    // string nulls stride groups too
    val sNulls = cells.filter(col("present") && col("col_name") === "s" &&
      col("value_str").isNull).count()
    assert(sNulls == n / 7)
    scan.release()
  }

  test("list<float> column: null lists, empty lists and null elements across row groups and the 64k chunk") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_lists").toString
    // one row group holds more than 65,536 rows, so lists also meet the
    // decode-chunk boundary inside a group, not only at group ends
    val n = 140000
    (1 to n).map(i => (i.toLong, listAt(i))).toDF("id", "vec")
      .coalesce(1)
      .write.option("parquet.block.size", 1024 * 1024)
      .mode("overwrite").parquet(s"$tmp/lists.parquet")
    val groups = rowGroupRows(s"$tmp/lists.parquet")
    assert(groups.size > 1 && groups.max > 65536,
      s"fixture must span several row groups, one over 64k rows: $groups")
    assertTableParity(tmp, "lists")
  }

  test("list<float> column in Spark's legacy bag/array layout") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_legacylist").toString
    // the legacy layout is a session setting; a child session keeps it
    // out of the shared one
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.parquet.writeLegacyFormat", "true")
    legacy.createDataset((1 to 3000).map(i => (i.toLong, listAt(i))))
      .toDF("id", "vec").coalesce(1)
      .write.option("parquet.block.size", 16 * 1024)
      .mode("overwrite").parquet(s"$tmp/legacy.parquet")
    val footer = footerOf(s"$tmp/legacy.parquet").getFileMetaData.getSchema.toString
    assert(footer.contains("repeated group bag") && footer.contains("float array"),
      s"fixture is not in the legacy layout: $footer")
    assert(rowGroupRows(s"$tmp/legacy.parquet").size > 1)
    assertTableParity(tmp, "legacy")
  }

  test("list<float> column in the 2-level repeated-float layout") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = java.nio.file.Files.createTempDirectory("graft_twolevel").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; optional group vec (LIST) { repeated float array; } }")
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$tmp/twolevel.parquet/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(out).withType(schema)
      .withRowGroupSize(16 * 1024L).withPageSize(1024).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3000).foreach { i =>
      val g = groups.newGroup().append("id", i.toLong)
      // a 2-level list has no null elements
      listAt(i, nullElems = false).foreach { xs =>
        val l = g.addGroup("vec")
        xs.flatten.foreach(x => l.append("array", x))
      }
      w.write(g)
    } finally w.close()
    assert(rowGroupRows(s"$tmp/twolevel.parquet").size > 1)
    assertTableParity(tmp, "twolevel")
  }

  test("fields with more than one repetition level per row are rejected, not mis-decoded") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val tmp = java.nio.file.Files.createTempDirectory("graft_repeated").toString
    // a top-level repeated float, and a LIST whose element repeats again
    val schemas = Map(
      "toprep" -> "message t { required int64 id; repeated float xs; }",
      "listrep" -> ("message t { required int64 id; optional group vec (LIST) " +
        "{ repeated group list { repeated float x; } } }"))
    schemas.foreach { case (name, text) =>
      val schema = MessageTypeParser.parseMessageType(text)
      val out = HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$tmp/$name.parquet/part-0.parquet"),
        spark.sparkContext.hadoopConfiguration)
      val w = ExampleParquetWriter.builder(out).withType(schema).build()
      try (1 to 3).foreach { i =>
        val g = new SimpleGroupFactory(schema).newGroup().append("id", i.toLong)
        if (name == "toprep") (0 to i).foreach(j => g.append("xs", j.toFloat))
        else {
          val l = g.addGroup("vec")
          (0 to i).foreach(j => l.addGroup("list").append("x", j.toFloat).append("x", -1f))
        }
        w.write(g)
      } finally w.close()
    }
    val scan = LakeScan.scanLake(spark, tmp, schemas.keys.toSeq.sorted, None)
    try assert(scan.rejected == Seq("listrep", "toprep"))
    finally scan.release()
  }

  test("scanLake rejects the decimal table, with none of its rows in cells") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_unsup").toString
    Seq((1L, BigDecimal("1.23"))).toDF("id", "dec")
      .write.mode("overwrite").parquet(s"$tmp/dec.parquet")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$tmp/plain.parquet")
    val scan = LakeScan.scanLake(spark, tmp, Seq("dec", "plain"), Some(10000))
    assert(scan.rejected == Seq("dec"))
    val byTable = scan.cells.filter(col("present")).groupBy("table_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTable == Map("plain" -> 4L), s"cells by table: $byTable") // 2 rows × 2 columns
    assert(scan.cells.filter(col("table_name") === "dec" ||
      col("col_name") === LakeScan.RejectMarker).count() == 0)
    scan.release()
  }

  test("a two-part table with a decimal second part is rejected whole") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_unsup_part").toString
    (1 to 6).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/mixed.parquet")
    Seq((7L, BigDecimal("1.23"))).toDF("id", "dec")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/aside")
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/aside"))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part,
      java.nio.file.Paths.get(s"$tmp/mixed.parquet/part-zz-decimal.parquet"))
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$tmp/plain.parquet")
    val scan = LakeScan.scanLake(spark, tmp, Seq("mixed", "plain"), Some(10000))
    assert(scan.rejected == Seq("mixed"))
    assert(scan.cells.filter(col("table_name") === "mixed").count() == 0,
      "the decodable part of a rejected table leaked into cells")
    assert(scan.cells.filter(col("table_name") === "plain").count() > 0)
    scan.release()
  }
}
