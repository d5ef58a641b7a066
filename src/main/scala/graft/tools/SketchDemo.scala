package graft.tools

import graft.core.{MinHash, SimHash}

/** CLI demo: distributed MinHash sketching of the `documents` table.
  *
  * Builds one word-token MinHash per language group via partial sketches
  * merged with the elementwise-min algebra (map-side combine shape), then
  * prints the pairwise Jaccard matrix and per-language SimHash counts.
  *
  * Usage: sbt "runMain graft.tools.SketchDemo [sfDir]"
  */
object SketchDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSpark.session()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"lang", $"text").as[(String, String)]

    // Partial sketch per partition, merged per key: the same
    // associative/commutative algebra our Spark Aggregator uses.
    val sketches = docs.rdd
      .mapPartitions { it =>
        val perKey = scala.collection.mutable.Map[String, Array[Long]]()
        val p = MinHash.perms()
        it.foreach { case (lang, text) =>
          val d = perKey.getOrElseUpdate(lang, MinHash.emptyDigest())
          text.split("\\s+").foreach(tok => MinHash.updateInto(d, tok, p))
        }
        perKey.iterator
      }
      .reduceByKey(MinHash.mergeInto)
      .collect()
      .sortBy(_._1)

    println(s"== ${sketches.length} language sketches over $sfDir/documents.parquet ==")
    for ((lang, d) <- sketches)
      println(f"$lang%-6s digest[0..4]=${d.take(5).mkString(",")}")

    println("== pairwise word-shingle Jaccard estimates ==")
    for ((l1, d1) <- sketches; (l2, d2) <- sketches if l1 < l2)
      println(f"$l1%-6s vs $l2%-6s J=${MinHash.jaccard(d1, d2)}%.2f")

    val sim = docs.map { case (lang, text) =>
      (lang, SimHash.simhash(text.split("\\s+").toSeq)) }
      .toDF("lang", "simhash")
    println("== distinct simhash fingerprints per language ==")
    sim.groupBy("lang").agg(org.apache.spark.sql.functions.countDistinct("simhash").as("n"))
      .orderBy("lang").collect().foreach(r => println(s"${r.get(0)}: ${r.get(1)}"))
    spark.stop()
  }
}
