package graft.operators

import graft.SparkSpec

/** Pins [[TextAnalysis.pmiCollocations]] on a hand-computed corpus:
  * "a b a b a b" has unigrams a×3 b×3 (Nu=6), bigrams "a b"×3
  * "b a"×2 (Nb=5), so pmi(a,b) = ln(3·36/(9·5)) = ln(2.4) and
  * pmi(b,a) = ln(2·36/(9·5)) = ln(1.6), ranked in that order. Also
  * [[TextAnalysis.ngramEntropy]], which reads the same tokens and
  * bigrams. */
class PmiSpec extends SparkSpec {
  import spark.implicits._

  test("pmiCollocations: exact hand-computed PMI, support filter, rank order") {
    val docs = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, minCount = 2, topK = 10)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[String]("w1"),
        r.getAs[String]("w2"), r.getAs[Long]("c12"), r.getAs[Double]("pmi")))
    assert(out.toSeq == Seq(
      (1L, "a", "b", 3L, 0.875469), // ln 2.4
      (2L, "b", "a", 2L, 0.470004))) // ln 1.6
  }

  test("pmiCollocations: bigrams below min support never rank") {
    val docs = Seq((1L, "x y"), (2L, "p q"), (3L, "p q")).toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(docs, minCount = 2, topK = 10)
      .collect().map(_.getAs[String]("w1"))
    assert(out.toSeq == Seq("p")) // "x y" has support 1
  }

  test("ngramEntropy: token, bigram and context entropies over the shared tokenizer") {
    // a blank doc adds no token; a one-token doc adds a token but no bigram
    val docs = Seq((1L, "a b a b a b"), (2L, "   "), (3L, "c")).toDF("doc_id", "text")
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def h(counts: Seq[Long]): Double = { // the operator's integer-micro entropy
      val n = counts.sum
      val s = counts.map(c =>
        math.floor(c.toDouble * round6(math.log(n.toDouble / c.toDouble)) * 1e6).toLong).sum
      round6(s.toDouble / n / 1e6)
    }
    val r = TextAnalysis.ngramEntropy(docs).collect().head
    assert(r.getAs[Long]("n_tokens") == 7L && r.getAs[Long]("n_distinct_tokens") == 3L)
    assert(r.getAs[Double]("h_unigram") == h(Seq(3L, 3L, 1L)))
    // bigrams "a b" x3, "b a" x2; their first words a x3, b x2
    assert(r.getAs[Long]("n_bigrams") == 5L && r.getAs[Long]("n_distinct_bigrams") == 2L)
    assert(r.getAs[Double]("h_bigram") == h(Seq(3L, 2L)))
    assert(r.getAs[Double]("h_conditional") == 0.0)
  }

}

/** Pins [[TextAnalysis.textrankKeywords]]: the hub word of a star
  * co-occurrence graph outranks the leaves; ties order by token. */
class TextrankSpec extends graft.SparkSpec {
  import spark.implicits._

  test("textrankKeywords: star hub ranks first, leaves tie after") {
    val docs = Seq((1L, "hub aa"), (2L, "hub bb"), (3L, "hub cc"),
      (4L, "hub dd"), (5L, "hub ee")).toDF("doc_id", "text")
    val out = TextAnalysis.textrankKeywords(docs, topK = 10)
      .orderBy("rank_pos").collect()
      .map(r => (r.getAs[Long]("rank_pos"), r.getAs[String]("tok"),
        r.getAs[Long]("rank_ppm")))
    assert(out.head._2 == "hub", out.toSeq)
    assert(out.head._3 > out(1)._3, out.toSeq)
    assert(out.map(_._2).drop(1).toSeq == Seq("aa", "bb", "cc", "dd", "ee"))
    assert(out.drop(1).map(_._3).distinct.size == 1) // leaves tie
  }
}

/** Pins [[TextAnalysis.readability]] on a hand-counted sentence:
  * "the cat sat. it ran!" = 5 words, 2 sentences, 5 syllables. */
class ReadabilitySpec extends graft.SparkSpec {
  import spark.implicits._

  test("readability: exact hand counts and scores") {
    val docs = Seq((1L, "the cat sat. it ran!"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.readability(docs).orderBy("doc_id").collect()
    val r1 = out(0)
    assert(r1.getAs[Long]("words") == 5L)
    assert(r1.getAs[Long]("sentences") == 2L)
    // sat. -> 'a' (1), it -> 'i' (1), ran! -> 'a' (1), the -> 'e' (1), cat -> 'a' (1)
    assert(r1.getAs[Long]("syllables") == 5L)
    // fk = 0.39*(5/2) + 11.8*(5/5) - 15.59 = 0.975 + 11.8 - 15.59 = -2.815
    assert(r1.getAs[Double]("fk_grade") == -2.815)
    val r2 = out(1) // empty doc: floors keep it defined
    assert(r2.getAs[Long]("words") == 0L && r2.getAs[Long]("sentences") == 1L)
    assert(r2.getAs[Long]("syllables") == 0L)
  }
}
