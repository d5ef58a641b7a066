package graft.profile

import graft.SparkSpec
import graft.core.MinHash
import org.apache.spark.sql.Row

class ProfilerSpec extends SparkSpec {
  import spark.implicits._

  // s: strings with empty + null; n: ints with null; d: doubles
  private lazy val df = Seq(
    (Some("apple"), Some(1L), 1.0),
    (Some("banana pie"), Some(2L), 2.0),
    (Some(""), Some(3L), 3.0),       // empty string -> null (P2)
    (None: Option[String], None: Option[Long], 4.0),
    (Some("apple"), Some(5L), 10.0)
  ).toDF("s", "n", "d")

  private lazy val prof = Profiler.profile(df, "t").collect()
    .map(r => r.getAs[String]("col_name") -> r).toMap

  test("num_nan counts nulls incl. empty-string promotion") {
    assert(prof("s").getAs[Long]("num_nan") == 2) // "" and null
    assert(prof("n").getAs[Long]("num_nan") == 1)
    assert(prof("d").getAs[Long]("num_nan") == 0)
  }

  test("unique includes null as a value (pandas Series.unique parity)") {
    assert(prof("s").getAs[Long]("unique") == 3) // apple, banana pie, null
    assert(prof("n").getAs[Long]("unique") == 5) // 1,2,3,5,null
    assert(prof("d").getAs[Long]("unique") == 5)
  }

  test("rows and types") {
    assert(prof("s").getAs[Long]("rows") == 5)
    assert(prof("s").getAs[String]("col_type") == "string")
    assert(prof("n").getAs[String]("col_type") == "integer")
    assert(prof("d").getAs[String]("col_type") == "float")
  }

  test("quantile vector: 13 slots = deciles + mean + std_pop + min + max") {
    val q = prof("d").getAs[scala.collection.Seq[Double]]("quantile")
    assert(q.length == 13)
    val data = Seq(1.0, 2.0, 3.0, 4.0, 10.0)
    assert(q(9) == data.sum / 5)                       // mean
    val mu = data.sum / 5
    val varp = data.map(x => (x - mu) * (x - mu)).sum / 5
    assert(math.abs(q(10) - math.sqrt(varp)) < 1e-12)  // std (population)
    assert(q(11) == 1.0 && q(12) == 10.0)              // min, max
    assert(q(4) == 3.0)                                // median
    assert(prof("s").isNullAt(prof("s").fieldIndex("quantile"))) // strings: none
  }

  test("std guard: unique<=2 forces std 0 (data_prep.py:238-241)") {
    val tiny = Seq(7.0, 7.0, 7.0, 9.0).toDF("x")
    val p = Profiler.profile(tiny, "tiny").collect()(0)
    val q = p.getAs[scala.collection.Seq[Double]]("quantile")
    assert(q(10) == 0.0)
  }

  test("cell_width only for strings, equals avg byte length") {
    // non-null strings after P2: "apple"(5), "banana pie"(10), "apple"(5)
    assert(math.abs(prof("s").getAs[Double]("cell_width") - 20.0 / 3) < 1e-9)
    assert(prof("n").isNullAt(prof("n").fieldIndex("cell_width")))
  }

  test("minhash_exact matches core sketch of distinct present values") {
    val d = prof("n").getAs[scala.collection.Seq[Long]]("minhash_exact").toArray
    assert(d.sameElements(MinHash.sketch(Seq("1", "2", "3", "5"))))
  }

  test("minhash_words tokenizes string cells; absent for numerics") {
    val d = prof("s").getAs[scala.collection.Seq[Long]]("minhash_words").toArray
    assert(d.sameElements(MinHash.sketch(Seq("apple", "banana", "pie"))))
    assert(prof("n").isNullAt(prof("n").fieldIndex("minhash_words")))
  }

  test("content snapshot equals sketch of row strings") {
    val snap = Profiler.contentSnapshot(df, "t").collect()(0)
      .getAs[scala.collection.Seq[Long]]("content_snapshot").toArray
    // concat_ws skips nulls -> row 4 renders as "4.0"
    val rows = Seq("apple 1 1.0", "banana pie 2 2.0", " 3 3.0", "4.0", "apple 5 10.0")
    assert(snap.sameElements(MinHash.sketch(rows)))
  }

  test("date columns profile as 'date' with epoch quantiles") {
    val dd = Seq(java.sql.Timestamp.valueOf("2021-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2021-01-03 00:00:00")).toDF("ts")
    val p = Profiler.profile(dd, "dates").collect()(0)
    assert(p.getAs[String]("col_type") == "date")
    assert(p.isNullAt(p.fieldIndex("quantile"))) // only numeric get quantile vec
    assert(p.getAs[Double]("min_v") == 1609459200.0)
  }

  test("edge values (NaN, ±Inf, ±0.0, 1e±300) keep pinned quantile vectors") {
    val NaN = Double.NaN
    val Inf = Double.PositiveInfinity
    val cases = Seq(
      ((1 to 20).map(_.toDouble) :+ NaN) ->
        Seq(3.0, 5.0, 7.0, 9.0, 11.0, 13.0, 15.0, 17.0, 19.0, NaN, NaN, 1.0, NaN),
      (Seq(1.0, Inf, -Inf) ++ (5 to 20).map(_.toDouble)) ->
        Seq(4.2, 6.6000000000000005, 8.399999999999999, 10.2, 12.0, 13.799999999999999,
          15.6, 17.4, 19.2, NaN, NaN, -Inf, Inf),
      (Seq(-0.0, 0.0, 0.0, -0.0, 1.5, -2.5) ++ (1 to 10).map(-_.toDouble)) ->
        Seq(-8.5, -7.0, -5.5, -4.0, -2.75, -2.0, -0.5, 0.0, 0.0,
          -3.5, 3.513367330638799, -10.0, 1.5),
      Seq(1e300, -1e300, 1e-300, 0.0, 5.0) ->
        Seq(-6.0E299, -1.9999999999999997E299, 1.9999999999999997E-301,
          6.000000000000001E-301, 1.0E-300, 1.9999999999999996, 3.999999999999999,
          2.000000000000002E299, 6.000000000000001E299, 0.0, Inf, -1.0E300, 1.0E300))
    for ((xs, want) <- cases) {
      val q = Profiler.profile(xs.toDF("x"), "edge").collect()(0)
        .getAs[scala.collection.Seq[Double]]("quantile")
      // Double.compare: NaN equals NaN, and -0.0 differs from 0.0
      assert(q.length == want.length &&
        q.zip(want).forall { case (a, b) => java.lang.Double.compare(a, b) == 0 },
        s"input $xs: got $q, want $want")
    }
  }
}

/** Contract of `exact_deciles`, deciles from a (value, freq) histogram:
  * duplicate value rows — e.g. a stage-1 histogram still split by
  * value_str, or one value's partial counts from several partitions —
  * subdivide a value's rank interval and must yield IDENTICAL deciles to
  * the aggregated histogram, and to Spark's own exact percentile.
  */
class DecilesFromHistSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.functions.DecileBuffer
  import graft.functions.SketchFunctions.exact_deciles

  private val probs = Profiler.QuantileProbs

  private def decilesOf(h: DataFrame): Map[Int, Seq[Double]] =
    h.groupBy("col_idx")
      .agg(exact_deciles(col("value_num"), col("freq"), probs).as("deciles"))
      .collect().map(r => r.getAs[Int]("col_idx") -> r.getAs[Seq[Double]]("deciles")).toMap

  test("duplicate value rows give the same deciles as the aggregated histogram") {
    // column 0: skewed ints with heavy ties; column 1: near-unique doubles
    val vals = (1 to 500).map(i => (0, (i % 7).toDouble, 1L)) ++
      (1 to 400).map(i => (1, i * 1.25, 1L))
    // split each value's frequency across 3 duplicate rows
    val dup = vals.flatMap { case (c, v, _) => Seq((c, v, 1L), (c, v, 1L), (c, v, 1L)) }
      .toDF("col_idx", "value_num", "freq")
    val agg = dup.groupBy("col_idx", "value_num").agg(sum("freq").as("freq"))
    val a = decilesOf(dup)
    val b = decilesOf(agg)
    assert(a == b)
    // cross-check against Spark's built-in exact percentile on the
    // expanded multiset (each dup row carries freq 1 = one element)
    val expanded = dup.select(col("col_idx"), col("value_num"))
    val exact = expanded.groupBy("col_idx")
      .agg(expr(s"percentile(value_num, array(${probs.mkString(",")}))").as("p"))
      .collect().map(r => r.getAs[Int]("col_idx") -> r.getAs[Seq[Double]]("p")).toMap
    probs.indices.foreach { i =>
      assert(math.abs(a(0)(i) - exact(0)(i)) < 1e-9, s"col0 q$i")
      assert(math.abs(a(1)(i) - exact(1)(i)) < 1e-9, s"col1 q$i")
    }
  }

  test("single-value and two-value columns interpolate exactly") {
    val h = Seq((0, 5.0, 10L), (1, 1.0, 1L), (1, 2.0, 1L))
      .toDF("col_idx", "value_num", "freq")
    val d = decilesOf(h)
    assert(d(0).forall(_ == 5.0))
    // two values, n=2: pos = p*(n-1) = p -> lo=0, hi=1 interpolation
    probs.indices.foreach { i =>
      assert(math.abs(d(1)(i) - (1.0 + probs(i))) < 1e-12)
    }
  }

  test("1 vs 8 input partitions give the same deciles (serialize, merge)") {
    val h = ((1 to 3000).map(i => (i % 3, ((i * 7919) % 1013).toDouble, (i % 4 + 1).toLong)) ++
      Seq((0, Double.NaN, 2L), (2, -1e300, 1L))).toDF("col_idx", "value_num", "freq")
    val one = decilesOf(h.repartition(1))
    val eight = decilesOf(h.repartition(8))
    assert(one.keySet == Set(0, 1, 2) && eight.keySet == one.keySet)
    assert(one.keySet.forall(k => one(k).length == probs.length &&
      one(k).corresponds(eight(k))(java.lang.Double.compare(_, _) == 0)), s"$one vs $eight")
  }

  test("null values and freq = 0 sentinel rows are ignored") {
    val base = Seq((0, Some(1.0), 1L), (0, Some(2.0), 3L), (0, Some(4.0), 2L))
    val noisy = base ++ Seq((0, None, 5L), (0, Some(100.0), 0L), (0, Some(-100.0), 0L))
    def d(rows: Seq[(Int, Option[Double], Long)]) =
      decilesOf(rows.toDF("col_idx", "value_num", "freq"))
    assert(d(noisy) == d(base))
  }

  test("a group with no numeric value gives null") {
    val h = Seq((0, Some(1.0), 1L), (1, None, 4L), (1, Some(9.0), 0L))
      .toDF("col_idx", "value_num", "freq")
    val d = decilesOf(h)
    assert(d.keySet == Set(0, 1) && d(1) == null)
  }

  test("buffer growth past the JVM array limit raises a named error") {
    val e = intercept[IllegalStateException] {
      new DecileBuffer().reserve(DecileBuffer.MaxEntries + 1L)
    }
    assert(e.getMessage.contains("exact_deciles"))
  }
}

/** Plan-shape guard for the profile. With quantiles on, the deciles are
  * one `exact_deciles` aggregate in the stats `groupBy`, so the plan is a
  * single two-level aggregate: the input is read once, and no
  * checkpointed leaf, broadcast or window appears. */
class ProfilePlanReuseSpec extends SparkSpec {
  import spark.implicits._

  test("deciles ride the stats aggregate: one scan, no broadcast/window") {
    val df = (1 to 5000).map(i => (i % 37, i.toDouble % 101, s"s$i")).toDF("a", "b", "c")
    val prof = Profiler.profile(df, "t", withSketches = false)
    prof.collect()
    val plan = prof.queryExecution.executedPlan.toString
    Seq("BroadcastExchange", "Window", "Scan ExistingRDD").foreach { node =>
      assert(!plan.contains(node), s"unexpected $node in the profile plan:\n$plan")
    }
    // the input relation (columns a, b, c) is scanned exactly once
    val finalPlan = plan.split("== Initial Plan ==")(0)
    assert("LocalTableScan \\[a#".r.findAllIn(finalPlan).size == 1,
      s"expected one scan of the input; plan:\n$plan")
  }

  test("without quantiles the profile stays a single un-materialized aggregate") {
    val df = (1 to 500).map(i => (i % 7, i.toDouble)).toDF("a", "b")
    val prof = Profiler.profile(df, "t", withSketches = false, withQuantiles = false)
    prof.collect()
    val plan = prof.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("Scan ExistingRDD"),
      s"no-quantile profile must read the input directly; plan:\n$plan")
  }
}
