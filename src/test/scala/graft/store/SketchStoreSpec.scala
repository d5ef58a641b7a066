package graft.store

import graft.SparkSpec
import graft.profile.Profiler
import org.apache.spark.sql.functions.col
import java.nio.file.Files

class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = (1 to 20).map(i => (i.toLong, s"v$i words here"))
    .toDF("id", "txt")

  test("parquet round-trip preserves profile rows and digests") {
    val dir = Files.createTempDirectory("graft_store").toString
    val prof = Profiler.profile(df, "t1")
      .unionByName(Profiler.profile(df, "t2"))
    SketchStore.writeParquet(prof, s"$dir/p")
    val back = SketchStore.readParquet(spark, s"$dir/p")
    assert(back.count() == 4)
    val d1 = back.filter($"table_name" === "t1" && $"col_name" === "txt")
      .select("minhash_exact").collect()(0).getAs[scala.collection.Seq[Long]](0)
    val d2 = prof.filter($"table_name" === "t1" && $"col_name" === "txt")
      .select("minhash_exact").collect()(0).getAs[scala.collection.Seq[Long]](0)
    assert(d1 == d2)
  }

  test("json.bz2 parity docs: one document per table with nested columns") {
    val dir = Files.createTempDirectory("graft_store_json").toString
    val prof = Profiler.profile(df, "t1")
    val snap = Profiler.contentSnapshot(df, "t1")
    SketchStore.writeJsonBz2(prof, snap, s"$dir/docs")
    val files = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.getName.endsWith(".json.bz2"))
    assert(files.nonEmpty, "expected bz2 json part files")
    val doc = spark.read.json(s"$dir/docs").collect()(0)
    val meta = doc.getAs[org.apache.spark.sql.Row]("table_metadata")
    assert(meta.getAs[String]("file_name") == "t1")
    assert(meta.getAs[Long]("rows") == 20)
    // spark.read.json infers the columns map as a struct keyed by name
    val cols = doc.getAs[org.apache.spark.sql.Row]("columns")
    assert(cols.schema.fieldNames.toSet == Set("id", "txt"))
    assert(doc.getAs[scala.collection.Seq[Long]]("content_snapshot").length == 100)
  }
}

/** The bucketed layout: a fixed number of files, a job-free read that
  * returns the per-table layout's schema and rows, upserts that rewrite
  * only their own buckets, and loud failures on old stores and drifted
  * schemas. */
class SketchStoreLayoutSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_store_$tag").toString

  private def catalog(n: Int): DataFrame =
    graft.Bench.syntheticCatalog(spark, n, cols = 3).localCheckpoint(eager = true)

  private def parquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  /** Rows in (table, column) order, columns by name: stores differ in
    * column order (`table_name` last on read). */
  private def rowsOf(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.select(df.columns.sorted.toIndexedSeq.map(col): _*)
      .orderBy("table_name", "col_idx").collect().toSeq

  private def bucketOf(name: String): Int =
    Seq(name).toDF("n").select(SketchStore.bucketOf(col("n"))).first().getInt(0)

  /** Spark jobs `body` starts: the listener bus delivers events in order,
    * so once a sentinel job's start is seen every earlier one has been. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("graft-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var n = 0
      while (seen.take() != "graft-sentinel") n += 1
      n
    } finally sc.removeSparkListener(listener)
  }

  test("files written stay within the bucket count for 5 and 200 tables") {
    for (n <- Seq(5, 200)) {
      val dir = tmp(s"files$n")
      SketchStore.writeParquet(catalog(n), dir)
      val files = parquetFiles(dir)
      assert(files.nonEmpty && files.size <= SketchStore.Buckets,
        s"$n tables wrote ${files.size} files")
      assert(SketchStore.readParquet(spark, dir).count() == n * 3L)
    }
  }

  test("readParquet returns the per-table layout's schema and rows") {
    val dir = tmp("ref")
    val prof = Profiler.profile((1 to 30).map(i => (i.toLong, s"a$i", i * 0.5)).toDF("id", "s", "x"), "ta")
      .unionByName(Profiler.profile((1 to 12).map(i => (i.toLong, s"b$i")).toDF("k", "v"), "tb"))
      .unionByName(catalog(20))
    SketchStore.writeParquet(prof, s"$dir/bucketed")
    prof.write.partitionBy("table_name").parquet(s"$dir/reference")
    val ref = spark.read.parquet(s"$dir/reference")
    val back = SketchStore.readParquet(spark, s"$dir/bucketed")
    assert(back.schema == ref.schema, s"${back.schema.treeString}\nvs\n${ref.schema.treeString}")
    assert(back.schema.fieldNames.last == "table_name")
    assert(rowsOf(back) == rowsOf(ref))
  }

  test("readParquet launches no Spark job") {
    val dir = tmp("jobs")
    SketchStore.writeParquet(catalog(40), dir)
    assert(jobsDuring(SketchStore.readParquet(spark, dir)) == 0)
  }

  test("an upsert rewrites only its own buckets, reading them in the same job") {
    val dir = tmp("buckets")
    val base = catalog(40)
    SketchStore.writeParquet(base, dir)
    val names = (0 until 40).map(i => f"t$i%05d")
    // a grown table whose bucket also holds untouched tables: those must
    // survive the rewrite of the bucket they share
    val grown = names.find(t => names.count(u => bucketOf(u) == bucketOf(t)) > 1).get
    val touched = bucketOf(grown)
    def files(): Map[String, Seq[(String, Long)]] = parquetFiles(dir)
      .groupBy(_.getParentFile.getName)
      .map { case (b, fs) => b -> fs.map(f => f.getPath -> f.lastModified).sortBy(_._1) }
    val before = files()
    val beforeRows = rowsOf(SketchStore.readParquet(spark, dir))
    SketchStore.upsertParquet(base.filter(col("table_name") === grown)
      .withColumn("rows", col("rows") + 7), dir)
    val after = files()
    assert(after.keySet == before.keySet)
    for (b <- before.keySet - s"bucket=$touched")
      assert(after(b) == before(b), s"$b changed although only bucket $touched was upserted")
    assert(after(s"bucket=$touched") != before(s"bucket=$touched"))
    assert(after(s"bucket=$touched").size == 1)
    val back = SketchStore.readParquet(spark, dir)
    assert(rowsOf(back.filter(col("table_name") =!= grown)) ==
      beforeRows.filter(_.getAs[String]("table_name") != grown))
    val grownRows = back.filter(col("table_name") === grown).collect()
    assert(grownRows.length == 3 && grownRows.forall(_.getAs[Long]("rows") == 20 + 7))
  }

  test("an old per-table store fails loudly on read and upsert") {
    val dir = tmp("old")
    val prof = catalog(3)
    prof.write.mode("overwrite").partitionBy("table_name").parquet(dir)
    for (attempt <- Seq[() => Unit](() => SketchStore.readParquet(spark, dir),
      () => SketchStore.upsertParquet(prof, dir))) {
      val e = intercept[IllegalStateException](attempt())
      assert(e.getMessage.contains(dir) && e.getMessage.contains("rebuild"), e.getMessage)
    }
  }

  test("an upsert whose schema differs from the store's is refused") {
    val dir = tmp("drift")
    val prof = catalog(4)
    SketchStore.writeParquet(prof, dir)
    val e = intercept[IllegalArgumentException](
      SketchStore.upsertParquet(prof.drop("quantile"), dir))
    assert(e.getMessage.contains(dir), e.getMessage)
    val retyped = intercept[IllegalArgumentException](
      SketchStore.upsertParquet(prof.withColumn("rows", col("rows").cast("double")), dir))
    assert(retyped.getMessage.contains(dir), retyped.getMessage)
    assert(rowsOf(SketchStore.readParquet(spark, dir)) == rowsOf(prof))
  }

  test("upserting into a path with no store creates it") {
    val dir = s"${tmp("fresh")}/catalog"
    val prof = catalog(6)
    SketchStore.upsertParquet(prof, dir)
    assert(parquetFiles(dir).size <= SketchStore.Buckets)
    assert(rowsOf(SketchStore.readParquet(spark, dir)) == rowsOf(prof))
  }
}

class SketchStoreUpsertSpec extends SparkSpec {
  import spark.implicits._
  import graft.profile.Profiler
  import org.apache.spark.sql.functions.col

  test("upsertParquet rewrites only the partitions being refreshed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val a = Profiler.profile((1 to 30).map(i => (i.toLong, s"a$i")).toDF("id", "v"), "ta")
    val b = Profiler.profile((1 to 30).map(i => (i.toLong, s"b$i")).toDF("id", "v"), "tb")
    SketchStore.writeParquet(a.unionByName(b), dir)
    // refresh ONLY tb with different content
    val b2 = Profiler.profile((1 to 50).map(i => (i.toLong, s"B$i")).toDF("id", "v"), "tb")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    SketchStore.upsertParquet(b2, dir)
    // the dynamic mode rides the writer option; the session conf is untouched
    assert(spark.conf.getOption(modeKey) == modeBefore)
    val back = SketchStore.readParquet(spark, dir)
    assert(back.filter(col("table_name") === "ta").count() == 2) // untouched
    val tbRows = back.filter(col("table_name") === "tb")
    assert(tbRows.count() == 2)
    assert(tbRows.filter(col("col_name") === "v").first().getAs[Long]("rows") == 50)
    // ta digests identical to the original write
    val origDigest = a.filter(col("col_name") === "v")
      .first().getAs[scala.collection.Seq[Long]]("minhash_exact")
    val storedDigest = back.filter(col("table_name") === "ta" && col("col_name") === "v")
      .first().getAs[scala.collection.Seq[Long]]("minhash_exact")
    assert(storedDigest == origDigest)
  }

  test("compareDigests reports slot agreement and one-sided columns") {
    import spark.implicits._
    val digA = Seq(1L, 2L, 3L, 4L)
    val digB = Seq(1L, 2L, 9L, 4L) // one slot differs
    val a = Seq(("t", "same", digA), ("t", "drift", digA), ("t", "only_a", digA))
      .toDF("table_name", "col_name", "minhash_exact")
    val b = Seq(("t", "same", digA), ("t", "drift", digB), ("t", "only_b", digB))
      .toDF("table_name", "col_name", "minhash_exact")
    val out = graft.store.SketchStore.compareDigests(a, b).collect()
      .map(r => r.getString(1) -> r).toMap
    assert(out("same").getAs[Boolean]("exact_match"))
    assert(out("same").getAs[Int]("n_equal") == 4)
    assert(!out("drift").getAs[Boolean]("exact_match"))
    assert(out("drift").getAs[Int]("n_equal") == 3 &&
      out("drift").getAs[Int]("n_slots") == 4)
    // one-sided columns surface as rows (full outer), not silently vanish
    assert(out.contains("only_a") && out.contains("only_b"))
    assert(out("only_a").isNullAt(out("only_a").fieldIndex("n_slots")))
  }
}
