package graft.search

import graft.SparkSpec
import graft.profile.Profiler
import org.apache.spark.sql.DataFrame

class DiscoverySpec extends SparkSpec {
  import spark.implicits._

  // micro-lake: q(k, name); good shares both columns; half shares one;
  // noise shares nothing.
  private def lake(): DataFrame = {
    val q = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    val good = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("id", "label")
    val half = (51 to 150).map(i => (i.toLong, s"other$i")).toDF("id", "tag")
    val noise = (1000 to 1100).map(i => (i.toLong, s"zzz$i")).toDF("x", "y")
    Seq(Profiler.profile(q, "q"), Profiler.profile(good, "good"),
      Profiler.profile(half, "half"), Profiler.profile(noise, "noise"))
      .reduce(_ unionByName _)
  }

  test("searchUnionable ranks full-overlap > partial > noise") {
    val res = Discovery.searchUnionable(lake(), "q", k = 3).collect()
    val tables = res.map(_.getAs[String]("cand_table"))
    // Reference k-NN has no distance cutoff (embedding_search.py:129-161):
    // every retrieved neighbor counts as a match; ranking is
    // (matched_cols desc, sum_dist asc). So the order must be
    // good (2 cols, ~0 dist) > half (2 cols, high dist) > noise.
    assert(tables.sameElements(Array("good", "half", "noise")), tables.mkString(","))
    val sums = res.map(r => r.getAs[String]("cand_table") ->
      r.getAs[Double]("sum_dist")).toMap
    assert(sums("good") < 0.2)
    assert(sums("half") > sums("good") && sums("noise") > sums("half"))
  }

  test("exact-jaccard distances match ground truth") {
    val q = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    val half = (51 to 150).map(i => (i.toLong, s"other$i")).toDF("id", "tag")
    val values = Profiler.longFormat(q).withColumn("table_name",
        org.apache.spark.sql.functions.lit("q"))
      .unionByName(Profiler.longFormat(half).withColumn("table_name",
        org.apache.spark.sql.functions.lit("half")))
    val d = Discovery.columnDistancesExact(values, "q").collect()
      .map(r => (r.getAs[Int]("q_col_idx"), r.getAs[Int]("cand_col_idx")) ->
        r.getAs[Double]("dist")).toMap
    // k vs id: |inter|=50, |union|=150 -> dist = 1 - 1/3
    assert(math.abs(d((0, 0)) - (1.0 - 50.0 / 150.0)) < 1e-12)
    // name vs tag: no overlap -> absent (inner join drops) or dist 1
    assert(!d.contains((1, 1)))
  }

  test("searchTables ranks identical content first") {
    val a = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val b = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")   // dup of a
    val c = (500 to 560).map(i => (i.toLong, s"w$i")).toDF("k", "v")
    val snaps = Seq(Profiler.contentSnapshot(a, "a"),
      Profiler.contentSnapshot(b, "b"), Profiler.contentSnapshot(c, "c"))
      .reduce(_ unionByName _)
    val res = Discovery.searchTables(snaps, "a", k = 2).collect()
    assert(res(0).getAs[String]("cand_table") == "b")
    assert(res(0).getAs[Double]("jaccard") == 1.0)
    assert(res(1).getAs[Double]("jaccard") < 0.2)
  }

  test("minhash ranking agrees with exact ranking on the micro-lake") {
    val profiles = lake()
    val approx = Discovery.searchUnionable(profiles, "q", k = 3).collect()
      .map(_.getAs[String]("cand_table")).take(2)
    assert(approx.sameElements(Array("good", "half")))
  }
}

/** The one-exchange `columnVoteRank` against the three-window ranking it
  * replaced, on random tie-heavy distance relations, plus a pin on the
  * executed plan of a search over a stored catalog. */
class ColumnVoteRankSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.expressions.Window
  import org.scalacheck.Gen

  /** The ranking as it was before the single exchange: three windows,
    * each with its own shuffle, then the vote and a global sort. */
  private def referenceRank(dists: DataFrame, k: Int, overFetch: Int = 3): DataFrame = {
    val wKnn = Window.partitionBy(col("q_col_idx"))
      .orderBy(col("dist"), col("cand_table"), col("cand_col_idx"))
    val knn = dists.withColumn("rank", row_number().over(wKnn))
      .filter(col("rank") <= k * overFetch)
    val wFirst = Window.partitionBy(col("q_col_idx"), col("cand_table"))
      .orderBy(col("rank"))
    val first = knn.withColumn("rn", row_number().over(wFirst))
      .filter(col("rn") === 1)
    val wSeen = Window.partitionBy(col("cand_table"), col("cand_col_idx"))
      .orderBy(col("dist"), col("rank"))
    val deduped = first.withColumn("seen", row_number().over(wSeen))
      .filter(col("seen") === 1)
    deduped.groupBy(col("cand_table"))
      .agg(count(lit(1)).as("matched_cols"),
        round(sum(col("dist")), 6).as("sum_dist"))
      .orderBy(col("matched_cols").desc, col("sum_dist"), col("cand_table"))
      .limit(k)
  }

  /** A distance relation keyed by (q_col_idx, cand_table, cand_col_idx),
    * as the scorers emit it, with distances drawn from five values so
    * ties abound within and across query columns and candidate tables. */
  private val relation: Gen[Seq[(Int, String, Int, Double)]] = for {
    nq <- Gen.choose(1, 6)
    nt <- Gen.choose(1, 25)
    nc <- Gen.choose(1, 5)
    keys <- Gen.someOf(for (q <- 0 until nq; t <- 0 until nt; c <- 0 until nc)
      yield (q, f"t$t%02d", c))
    dists <- Gen.listOfN(keys.size, Gen.oneOf(0.0, 0.25, 0.5, 0.75, 1.0))
  } yield keys.toSeq.zip(dists).map { case ((q, t, c), d) => (q, t, c, d) }

  test("one-exchange ranking equals the three-window ranking, ties included") {
    val params = Gen.Parameters.default.withSize(100)
    for (seed <- 1L to 12L) {
      val rows = relation(params, org.scalacheck.rng.Seed(seed)).get
      val dists = spark.sparkContext.parallelize(rows, 3)
        .toDF("q_col_idx", "cand_table", "cand_col_idx", "dist")
      for (k <- Seq(1, 3, 10)) {
        val got = Discovery.columnVoteRank(dists, k).collect().toSeq
        val want = referenceRank(dists, k).collect().toSeq
        assert(got == want, s"seed $seed, k $k: ${got.mkString(" ")} vs ${want.mkString(" ")}")
      }
    }
  }

  test("a search over a stored catalog runs one shuffle besides the broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rank_plan").toString
    graft.store.SketchStore.writeParquet(graft.Bench.syntheticCatalog(spark, 30), dir)
    val res = Discovery.searchUnionable(
      graft.store.SketchStore.readParquet(spark, dir), "t00003", k = 5)
    assert(res.collect().length == 5)
    val plan = res.queryExecution.executedPlan
    val shuffles = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    val broadcasts = collectWithSubqueries(plan) {
      case e: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => e }
    assert(shuffles.size == 1 && broadcasts.size == 1, plan.toString)
  }
}

class TextSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "dup dup dup join"),
    (2L, "join join join join scan scan"),
    (3L, "dup window"),
    (4L, "the the the the"),
    (5L, "Dup JOIN")  // case-folded matching
  ).toDF("doc_id", "text")

  test("bm25TopK ranks rare-term matches above common-term matches, omits no-hit docs") {
    val res = TextSearch.bm25TopK(docs, Seq("dup", "join"), k = 10).collect()
    val ranked = res.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("doc_id"))
    // doc 4 has no query term: absent entirely
    assert(!ranked.contains(4L) && res.length == 4)
    // df(dup)=df(join)=3 of 5 (docs 1,3,5 / 1,2,5): equal idf, so doc 1
    // (tf 3+1 at dl=4) must beat doc 2 (join-only, tf 3 at dl=6)
    assert(ranked.head == 1L, s"got ${ranked.toSeq}")
    // every score positive and monotone in rank
    val scores = res.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("score_r"))
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sortBy(-_)))
  }

  test("bm25TopK truncates to k with deterministic id tiebreak") {
    val res = TextSearch.bm25TopK(docs, Seq("dup"), k = 2).collect()
      .sortBy(_.getAs[Long]("rank"))
    // docs 3 and 5 tie exactly (tf=1, dl=2): ascending-id tiebreak MUST
    // pick 3, so the k=2 result is exactly (1, 3) in rank order
    assert(res.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L))
  }

  test("tfidfTopTerms ranks rare terms above common, caps at topK, breaks ties by term") {
    val out = TextSearch.tfidfTopTerms(docs, topK = 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 2: scan (df=1, tf=2) must outrank join (df=3, tf=4)?
    // idf(scan)=ln(6/2)+1=2.0986, idf(join)=ln(6/4)+1=1.4055
    // scores: scan 2*2.0986=4.1972 < join 4*1.4055=5.6219 -> join first
    val d2 = out(2L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("term"))
    assert(d2.toSeq == Seq("join", "scan"))
    // doc 3: dup (df=3) vs window (df=1), both tf=1: window's higher idf wins
    val d3 = out(3L).sortBy(_.getAs[Long]("rank")).map(_.getAs[String]("term"))
    assert(d3.toSeq == Seq("window", "dup"))
    // every doc capped at topK and ranks are 1..n
    assert(out.values.forall(rows => rows.length <= 2 &&
      rows.map(_.getAs[Long]("rank")).sorted.sameElements(1L to rows.length)))
    // doc 5 case-folds: terms are lowercase
    assert(out(5L).map(_.getAs[String]("term")).toSet == Set("dup", "join"))
  }
}
