package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Bloom, Dedup, Sampling, Web}
import graft.profile.{CountMin, Hll, QuantileSketch}

/** The library's module calls drive a miniature end-to-end workflow. */
class GraftFacadeSpec extends SparkSpec {
  import spark.implicits._

  test("profile -> store -> search -> dedup workflow through the facade") {
    val docs = ((1L to 20L).map(i => (i, s"common shared text body $i")) ++
      Seq((21L, "common shared text body 7")))  // near-dup of doc 7
      .toDF("doc_id", "text")
    val deduped = Dedup.dropNearDuplicates(docs,
      Dedup.minhashNearDups(docs, 0.5, "doc_id", "text", bands = 20), "doc_id")
    assert(deduped.count() < 21)
    assert(deduped.filter(col("doc_id") === 21L).isEmpty) // min-id 7 kept

    val a = (1 to 60).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val profiles = Seq(
      profile.Profiler.profile(a, "a"),
      profile.Profiler.profile(a.limit(50), "b"),
      profile.Profiler.profile(Seq((1, "zz")).toDF("x", "y"), "c"))
      .reduce(_ unionByName _)
    val hits = search.Discovery.searchUnionable(profiles, "a", k = 2).collect()
    assert(hits.head.getAs[String]("cand_table") == "b")

    val sampled = Sampling.stratifiedSample(docs, "text",
      fractions = Map.empty, defaultFraction = 0.5, idCol = "doc_id")
    assert(sampled.count() > 0 && sampled.count() < 21)
  }

  test("quantile sketch, domain cap, BPE, and trained IVF through the facade") {
    val nums = (1 to 500).map(i => (i.toLong, i * 0.5)).toDF("id", "v")
    val dec = QuantileSketch.deciles(QuantileSketch.merge(
      QuantileSketch.sketchChunk(nums, "t"))).filter(col("col_idx") === 1)
    assert(dec.count() == 9)

    val urls = (1 to 50).map(i => (i.toLong, s"https://www.host${i % 3}.com/p/$i"))
      .toDF("id", "url")
    val capped = Web.perDomainCap(Web.withUrlParts(urls, "url"), 5, "id", "s0")
    assert(capped.count() == 15)

    val (merges, _) =
      ml.Bpe.train(ml.Bpe.wordFreq(Seq("aa ab aa aa").toDF("text"), "text"), 2)
    assert(merges.size == 2)

    val embs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(4)(d => (if (i % 4 == d) 1.0f else 0.0f) + 0.01f * d))
    }.toDF("vec_id", "embedding")
    val res = Ann.kmeansIvfTopK(embs, embs.limit(2), k = 3,
      kCells = 4, iters = 2, nProbe = 2)
    assert(res.count() > 0)
  }

  test("sketch family + incremental dedup + line dedup through the facade") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally unrelated content about something else entirely")
    ).toDF("doc_id", "text")

    // incremental dedup: doc 2 matches the stored sketch of doc 1
    val cat = Dedup.sketchCatalog(docs.filter(col("doc_id") === 1))
    val inc = Dedup.incrementalDedupReport(docs.filter(col("doc_id") > 1), cat, 0.5)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(inc(2L).getAs[java.lang.Long]("exact_dup_of") == 1L)
    assert(inc(3L).getAs[java.lang.Long]("near_dup_of") == null)

    // bloom-prefiltered decontamination agrees with the exact reporter
    val rep = Bloom.prefilterOverlap(
      docs.filter(col("doc_id") === 3), docs.filter(col("doc_id") === 1), n = 3,
      threshold = 0.2, spec = Bloom.BloomSpec(mBits = 256, k = 2))
      .collect().head
    assert(rep.getAs[Long]("n_overlap") == 0)

    // line dedup
    val lined = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val ld = Dedup.lineDedup(lined).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("text")).toMap
    assert(ld(1L) == "a\nb" && ld(2L) == "c")

    // CMS + HLL round trips
    val vals = (1 to 300).map(i => s"tok${i % 7}").toDF("v")
    val cms = CountMin.build(vals, "v")
    val est = CountMin.estimate(cms, Seq("tok0").toDF("v"), "v")
      .collect().head.getAs[Long]("est_n")
    assert(est >= 42) // ceil(300/7) occurrences of tok0... at least exact
    val hll = Hll.estimate(Hll.merge(
      Hll.registers(vals, "v"), Hll.registers(vals, "v")))
      .collect().head.getAs[Double]("hll_estimate")
    assert(hll > 3 && hll < 12) // 7 distinct
  }
}
