package graft.search

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CosineSelfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta"),
    (2L, "alpha beta gamma delta"),      // exact dup of 1
    (3L, "alpha beta gamma epsilon"),    // near dup
    (4L, "zeta eta theta iota"),         // disjoint
    (5L, "alpha alpha alpha beta")       // skewed weights
  ).toDF("doc_id", "text")

  test("identical documents meet any threshold with cosine 1.0") {
    val out = TextSearch.cosineSelfJoin(docs, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("prefix-filtered result equals the unfiltered quadratic ground truth") {
    // τ low enough that several pairs qualify and the prefix bound is
    // actually exercised (suffixes get dropped from candidate gen)
    val got = TextSearch.cosineSelfJoin(docs, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: same weighting, brute force in Scala
    val toks = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.toLowerCase.split("\\s+").filter(_.nonEmpty) }
    val n = toks.length.toDouble
    val dfs = toks.flatMap { case (_, ts) => ts.distinct }
      .groupBy(identity).view.mapValues(_.length.toDouble).toMap
    val vecs = toks.map { case (id, ts) =>
      id -> ts.groupBy(identity).map { case (term, occ) =>
        term -> (occ.length *
          math.round((math.log((n + 1.0) / (dfs(term) + 1.0)) + 1.0) * 1e6))
      }
    }.toMap
    val ids = vecs.keys.toSeq.sorted
    val want = (for {
      a <- ids; b <- ids if a < b
      dot = vecs(a).keySet.intersect(vecs(b).keySet).toSeq
        .map(t => BigInt(vecs(a)(t)) * BigInt(vecs(b)(t))).sum
      n2a = vecs(a).values.map(w => BigInt(w) * BigInt(w)).sum
      n2b = vecs(b).values.map(w => BigInt(w) * BigInt(w)).sum
      cos = BigDecimal(dot.toDouble / math.sqrt(n2a.toDouble * n2b.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cos >= 0.3
    } yield (a, b, cos)).toSet
    assert(got == want)
  }

  test("disjoint documents never pair") {
    val out = TextSearch.cosineSelfJoin(docs, 0.01).collect()
    assert(!out.exists(r => r.getLong(0) == 4L || r.getLong(1) == 4L))
  }

  test("blocked kernel is block-count invariant") {
    val one = TextSearch.cosineSelfJoin(docs, 0.3, numBlocks = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val many = TextSearch.cosineSelfJoin(docs, 0.3, numBlocks = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(one == many)
  }

  test("postings (prefix-filtered) variant equals the blocked kernel") {
    for (tau <- Seq(0.3, 0.7, 0.9, 0.99)) {
      val blocked = TextSearch.cosineSelfJoin(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val postings = TextSearch.cosineSelfJoinPostings(docs, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(postings == blocked, s"tau=$tau")
    }
  }

  test("auto-routed entry equals the blocked kernel on both vocabulary regimes") {
    // low-vocab degenerate corpus (every doc shares hot terms) routes
    // blocked; high-vocab corpus (mostly-unique terms) routes postings —
    // results must be identical either way
    val lowVocab = (1 to 40).map(i =>
      (i.toLong, s"tok${i % 3} tok${i % 2} shared common")).toDF("doc_id", "text")
    val highVocab = (1 to 40).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i % 5}shared")).toDF("doc_id", "text")
    for (corpus <- Seq(docs, lowVocab, highVocab); tau <- Seq(0.3, 0.9)) {
      val auto = TextSearch.cosineSimilarityJoin(corpus, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val blocked = TextSearch.cosineSelfJoin(corpus, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(auto == blocked, s"tau=$tau")
    }
  }

  test("routing rule: unpruned-cheap and prefix-pruned corpora go to postings") {
    // stage 1: candidate volume far under all-pairs -> postings, prefix
    // profile never evaluated (would throw)
    assert(TextSearch.routeToPostings(10000L, 1000.0,
      sys.error("stage-2 profile must not run when stage 1 passes")))
    // stage 2: hot Σdf² but a pruning prefix -> postings
    assert(TextSearch.routeToPostings(1000L, 1e9, 100.0))
    // degenerate: hot Σdf² AND non-pruning prefix -> blocked
    assert(!TextSearch.routeToPostings(1000L, 1e9, 1e9))
  }

  test("auto block count bounds block rows by postings AND docs") {
    // short docs: the docs/2k bound dominates
    assert(TextSearch.autoBlocks(100000L, 200000L) == 50)
    // long docs: the postings/250k bound dominates (caps block-row bytes)
    assert(TextSearch.autoBlocks(4000L, 100000000L) == 400)
    // tiny corpora keep the parallelism floor
    assert(TextSearch.autoBlocks(100L, 1000L) == 16)
  }

  test("string doc ids work and order lexicographically") {
    val sdocs = Seq(("dA", "alpha beta gamma"), ("dB", "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = TextSearch.cosineSelfJoin(sdocs, 0.5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("dA", "dB", 1.0)))
  }

  test("block kernel sums Long-overflowing products exactly") {
    import org.apache.spark.sql.Row
    def vec(id: Long, w: (String, Long)*) =
      Row(id, w.map { case (t, q) => Row(t, q) })
    val k = 1000000000L
    // (3k, 4k)·(4k, 3k): each product overflows a Long; cos = 24/25
    val xs = CosineKernel.parseBlock(Seq(vec(1L, "x" -> 3 * k, "y" -> 4 * k)))
    val ys = CosineKernel.parseBlock(Seq(vec(2L, "x" -> 4 * k, "y" -> 3 * k)))
    assert(CosineKernel.blockPairs(xs, ys, sameBlock = false, tau = 0.5).toSeq ==
      Seq(Row(1L, 2L, 0.96)))
    // (3k, 2k)·(2k, 3k): products fit, their sum overflows; cos = 12/13
    val as = CosineKernel.parseBlock(Seq(vec(3L, "x" -> 3 * k, "y" -> 2 * k)))
    val bs = CosineKernel.parseBlock(Seq(vec(4L, "x" -> 2 * k, "y" -> 3 * k)))
    assert(CosineKernel.blockPairs(as, bs, sameBlock = false, tau = 0.5).toSeq ==
      Seq(Row(3L, 4L, 0.923077)))
  }
}
