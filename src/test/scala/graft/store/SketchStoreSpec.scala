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
