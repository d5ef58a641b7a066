package graft.ml

import graft.SparkSpec
import graft.profile.Profiler
import org.apache.spark.sql.functions._

class PairScoringSpec extends SparkSpec {
  import spark.implicits._

  private lazy val profiles = {
    val a = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("id", "name")
    val b = (1 to 100).map(i => (i.toLong, s"name$i")).toDF("ident", "label")  // joinable w/ a
    val c = (900 to 999).map(i => (i.toLong, s"zz$i")).toDF("k", "v")          // unrelated
    Seq(Profiler.profile(a, "a"), Profiler.profile(b, "b"), Profiler.profile(c, "c"))
      .reduce(_ unionByName _).persist()
  }

  test("pairFeatures separate joinable from unrelated pairs") {
    val pairs = Seq(("a", "b"), ("a", "c")).toDF("table1", "table2")
    val f = PairScoring.pairFeatures(pairs, profiles).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(f(("a", "b")).getAs[Double]("max_j_exact") > 0.8)
    assert(f(("a", "c")).getAs[Double]("max_j_exact") < 0.2)
    assert(f(("a", "b")).getAs[Double]("type_agreement") == 0.5) // int~int, str~str of 4 combos
  }

  test("assemblePairs nests both sides' columns; missingPairs flags gaps") {
    val pairs = Seq(("a", "b"), ("a", "nope")).toDF("table1", "table2")
    val asm = PairScoring.assemblePairs(pairs, profiles)
    assert(asm.count() == 1) // only (a,b) resolves
    val missing = PairScoring.missingPairs(pairs, profiles).collect()
    assert(missing.length == 1 && missing(0).getAs[String]("table2") == "nope")
  }

  test("trainScorer learns joinable-vs-not on tiny synthetic set") {
    val pairs = Seq(("a", "b", 1.0), ("a", "c", 0.0), ("b", "c", 0.0))
      .toDF("table1", "table2", "y")
    val feats = PairScoring.pairFeatures(pairs.select("table1", "table2"), profiles)
      .join(pairs, Seq("table1", "table2"))
    val model = PairScoring.trainScorer(feats, "y")
    val preds = model.transform(feats).select("table1", "table2", "prediction")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(preds(("a", "b")) == 1.0)
    assert(preds(("a", "c")) == 0.0)
    // the trained pipeline plugs into the TableScorer seam unchanged
    val viaSeam = new Scorer.PipelineScorer(model).score(feats)
      .select("table1", "table2", "prediction").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(viaSeam == preds)
  }

  test("exported linear artifact scores identically to the MLlib pipeline") {
    val pairs = Seq(("a", "b", 1.0), ("a", "c", 0.0), ("b", "c", 0.0))
      .toDF("table1", "table2", "y")
    val feats = PairScoring.pairFeatures(pairs.select("table1", "table2"), profiles)
      .join(pairs, Seq("table1", "table2"))
    val model = PairScoring.trainScorer(feats, "y")
    val path = java.nio.file.Files.createTempDirectory("graft_model")
      .resolve("scorer.json").toString
    Scorer.exportLinearModel(model, path)
    // pipeline path: positive-class probability
    val viaPipeline = new Scorer.PipelineScorer(model).score(feats)
      .select(col("table1"), col("table2"), col("probability")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](2)(1)).toMap
    // artifact path: per-partition init + batched sigmoid kernel
    val inits = spark.sparkContext.longAccumulator("modelInits")
    val featCols = Scorer.exportedFeatures(path)
    val scored = new Scorer.ExternalModelScorer(
      Scorer.linearModelFactory(path, () => inits.add(1)),
      featureCols = featCols, batchSize = 2)
      .score(feats.repartition(3))
    val viaArtifact = scored.select("table1", "table2", "score").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(viaArtifact.keySet == viaPipeline.keySet)
    viaArtifact.foreach { case (k, s) =>
      assert(math.abs(s - viaPipeline(k)) < 1e-9, s"$k: $s vs ${viaPipeline(k)}") }
    // exactly one artifact load per non-empty partition
    assert(inits.value > 0 && inits.value <= 3,
      s"expected <=3 per-partition inits, saw ${inits.value}")
  }

  test("ONNX artifact round-trips and scores identically to the pipeline") {
    val pairs = Seq(("a", "b", 1.0), ("a", "c", 0.0), ("b", "c", 0.0))
      .toDF("table1", "table2", "y")
    val feats = PairScoring.pairFeatures(pairs.select("table1", "table2"), profiles)
      .join(pairs, Seq("table1", "table2"))
    val model = PairScoring.trainScorer(feats, "y")
    val path = java.nio.file.Files.createTempDirectory("graft_onnx")
      .resolve("scorer.onnx").toString
    OnnxExport.exportLogistic(model, path)
    // the artifact is real protobuf: re-parse independently and check the
    // ONNX-level contract (ir_version, opset, graph ops in order)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val m = Proto.parse(bytes)
    assert(Proto.varintAt(m, 1) == 8L) // ir_version
    assert(Proto.varintAt(Proto.parse(Proto.bytesAt(m, 8)), 2) == 13L) // opset
    val ops = Proto.allBytes(Proto.parse(Proto.bytesAt(m, 7)), 1)
      .map(n => Proto.stringAt(Proto.parse(n), 4))
    assert(ops == Seq("MatMul", "Add", "Sigmoid"))
    // session parity: per-partition ONNX session == MLlib pipeline probs
    val viaPipeline = new Scorer.PipelineScorer(model).score(feats)
      .select(col("table1"), col("table2"), col("probability")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[org.apache.spark.ml.linalg.Vector](2)(1)).toMap
    val session = OnnxSession.load(path)
    val inits = spark.sparkContext.longAccumulator("onnxInits")
    val scored = new Scorer.ExternalModelScorer(
      Scorer.onnxModelFactory(path, () => inits.add(1)),
      featureCols = session.features, batchSize = 2)
      .score(feats.repartition(3))
      .select("table1", "table2", "score").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(scored.keySet == viaPipeline.keySet)
    scored.foreach { case (k, s) =>
      assert(math.abs(s - viaPipeline(k)) < 1e-9, s"$k: $s vs ${viaPipeline(k)}") }
    assert(inits.value > 0 && inits.value <= 3)
  }

  test("ONNX linear map drives ExternalEmbedder end-to-end") {
    val d = 3; val k = 4
    // deterministic projection: w(i)(j) = (i+1)*(j+1)/10, b(j) = j/100
    val w = Array.tabulate(d, k)((i, j) => (i + 1) * (j + 1) / 10.0)
    val b = Array.tabulate(k)(_ / 100.0)
    val path = java.nio.file.Files.createTempDirectory("graft_onnx_emb")
      .resolve("head.onnx").toString
    OnnxExport.exportLinearMap(w, b, Seq("f1", "f2", "f3"), path)
    val session = OnnxSession.load(path)
    assert(session.features == Seq("f1", "f2", "f3"))
    val df = (1 to 50).map(i => (i.toLong, i * 0.5, i * 2.0, i * -1.0))
      .toDF("id", "f1", "f2", "f3").repartition(5)
    val out = new Scorer.ExternalEmbedder(
      Scorer.onnxEmbedderFactory(path), Seq("f1", "f2", "f3"),
      dim = k, batchSize = 8).score(df)
      .select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1)).toMap
    assert(out.size == 50)
    (1 to 50).foreach { i =>
      val x = Array(i * 0.5, i * 2.0, i * -1.0)
      val expect = Array.tabulate(k)(j =>
        (0 until d).map(t => x(t) * w(t)(j)).sum + b(j))
      out(i.toLong).toSeq.zip(expect).foreach { case (got, e) =>
        assert(math.abs(got - e) < 1e-4, s"id $i: $got vs $e") }
    }
    // width guard: the scalar run() must refuse a k=4 head
    intercept[IllegalArgumentException](session.run(Array(Array(1.0, 2.0, 3.0))))
  }

  test("truncated ONNX artifact fails at load, not as sigmoid(0) scores") {
    val w = Array(Array(1.0, -1.0), Array(0.5, 2.0))
    val b = Array(0.1, -0.2)
    val path = java.nio.file.Files.createTempDirectory("graft_onnx_trunc")
      .resolve("t.onnx").toString
    OnnxExport.exportLinearMap(w, b, Seq("f1", "f2"), path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // the model tail is [graph][opset 4B][metadata_props 19B]: cut at
    // several depths so truncation lands in metadata, in the graph, AND
    // inside the weights tensor — copyOfRange would otherwise zero-pad
    // the weights and every score would silently come out sigmoid(0)
    Seq(12, 30, 60, bytes.length / 2).foreach { cut =>
      intercept[IllegalArgumentException](new OnnxSession(bytes.dropRight(cut)))
    }
    intercept[IllegalArgumentException](new OnnxSession(Array[Byte](1, 2, 3)))
  }

  test("malformed-but-length-consistent nested bytes fail as not-a-ModelProto") {
    import Proto._
    // Outer framing VALID — field 7 (graph) with a correct length — but
    // the graph content ends mid-varint (lone continuation byte). Must
    // surface as the not-a-ModelProto error, not a raw bounds exception.
    val badGraph = lenDelim(7, Array(0x80.toByte))
    val e1 = intercept[IllegalArgumentException](new OnnxSession(badGraph))
    assert(e1.getMessage.contains("not a parseable ONNX ModelProto"))
    // same inside a NESTED node message: graph parses, node bytes don't
    val badNode = lenDelim(7, lenDelim(1, Array(0x80.toByte)))
    val e2 = intercept[IllegalArgumentException](new OnnxSession(badNode))
    assert(e2.getMessage.contains("not a parseable ONNX ModelProto"))
    // unbounded varint (11 continuation bytes) inside an initializer
    val badTensor = lenDelim(7, lenDelim(5, Array.fill(11)(0x80.toByte) :+ 0x01.toByte))
    intercept[IllegalArgumentException](new OnnxSession(badTensor))
  }

  test("ONNX MLP (SimpleModel shape) executes Linear-ReLU-Linear") {
    // the reference's 2-layer baseline head (SimpleModel.py:3-16)
    val w1 = Array(Array(1.0, -1.0), Array(0.5, 2.0))   // 2 -> 2
    val b1 = Array(0.1, -0.2)
    val w2 = Array(Array(1.0, 0.0, -1.0), Array(2.0, 1.0, 0.5)) // 2 -> 3
    val b2 = Array(0.0, 0.25, -0.5)
    val path = java.nio.file.Files.createTempDirectory("graft_onnx_mlp")
      .resolve("mlp.onnx").toString
    OnnxExport.exportMlp(Seq((w1, b1), (w2, b2)), Seq("f1", "f2"), path)
    val session = OnnxSession.load(path)
    val xs = Array(Array(1.0, 2.0), Array(-3.0, 0.5), Array(0.0, 0.0))
    val got = session.runMatrix(xs)
    xs.zip(got).foreach { case (x, out) =>
      val h = Array.tabulate(2)(j =>
        math.max(0.0, x(0) * w1(0)(j) + x(1) * w1(1)(j) + b1(j)))
      val expect = Array.tabulate(3)(j =>
        h(0) * w2(0)(j) + h(1) * w2(1)(j) + b2(j))
      out.zip(expect).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-12, s"x=${x.toSeq}: $g vs $e") }
    }
    // scoring variant: same layers + Sigmoid, scalar run()
    val spath = path + ".sig"
    OnnxExport.exportMlp(Seq((w1, b1), (Array(Array(1.0), Array(-1.0)), Array(0.0))),
      Seq("f1", "f2"), spath, finalSigmoid = true)
    val scores = OnnxSession.load(spath).run(Array(Array(1.0, 2.0)))
    assert(scores.length == 1 && scores(0) > 0 && scores(0) < 1)
    // width mismatch between layers fails at export, not score time
    intercept[IllegalArgumentException](
      OnnxExport.exportMlp(Seq((w1, b1), (Array(Array(1.0)), Array(0.0))),
        Seq("f1", "f2"), path + ".bad"))
  }

  test("ExternalModelScorer: per-partition batched seam scores every row") {
    val df = (1 to 1000).map(i => (i.toLong, i * 0.5, i * 2.0)).toDF("id", "f1", "f2")
      .repartition(7)
    // deterministic fake model: sum of features (a real one opens an ONNX
    // session in the factory and forwards the batch matrix)
    val scorer = new Scorer.ExternalModelScorer(
      () => (batch: Array[Array[Double]]) => batch.map(_.sum),
      featureCols = Seq("f1", "f2"), batchSize = 64)
    val out = scorer.score(df).collect()
    assert(out.length == 1000)
    assert(out.forall { r =>
      r.getAs[Double]("score") == r.getAs[Double]("f1") + r.getAs[Double]("f2") })
    assert(scorer.score(df).columns.toSeq == Seq("id", "f1", "f2", "score"))
  }

  test("ExternalEmbedder: fixed-dim vectors, batch boundaries invisible") {
    val df = (1 to 130).map(i => (i.toLong, i.toDouble)).toDF("id", "f")
    val emb = new Scorer.ExternalEmbedder(
      () => (batch: Array[Array[Double]]) =>
        batch.map(r => Array(r(0).toFloat, (r(0) * 2).toFloat)),
      featureCols = Seq("f"), dim = 2, batchSize = 32)
    val rows = emb.score(df).collect()
    assert(rows.length == 130)
    assert(rows.forall { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
      v.length == 2 && v(1) == v(0) * 2 && v(0) == r.getAs[Double]("f").toFloat })
  }

  test("budgetedBatch shrinks the row batch at very wide feature rows") {
    // narrow rows keep the configured shape
    assert(Scorer.budgetedBatch(256, 10) == 256)
    // seq-512 x d-768 flat features = 3 MiB of doubles per row: a 64 MiB
    // batch budget allows 21 rows, not 256
    assert(Scorer.budgetedBatch(256, 512 * 768) == (64 << 20) / (512 * 768 * 8))
    // never below one row, even when a single row exceeds the budget
    assert(Scorer.budgetedBatch(256, Int.MaxValue / 16) == 1)
    assert(Scorer.budgetedBatch(256, 0) == 256)
  }

  test("both linear exporters refuse a pipeline without an LR or an assembler stage") {
    import org.apache.spark.ml.{Pipeline, PipelineStage}
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val df = Seq((0.0, 1.0, 0.0), (1.0, 0.0, 1.0), (0.0, 2.0, 0.0), (1.0, 0.5, 1.0))
      .toDF("a", "b", "label")
    val assembler = new VectorAssembler().setInputCols(Array("a", "b")).setOutputCol("features")
    // the assembler runs outside the first pipeline, so its model has only the LR stage
    def fit(stages: PipelineStage*) =
      new Pipeline().setStages(stages.toArray).fit(assembler.transform(df))
    val noAssembler = fit(new LogisticRegression().setMaxIter(5))
    val noLr = fit(new VectorAssembler().setInputCols(Array("a", "b")).setOutputCol("f2"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bad_export")
    for ((name, export) <- Seq[(String, (org.apache.spark.ml.PipelineModel, String) => Unit)](
        "exportLinearModel" -> Scorer.exportLinearModel,
        "exportLogistic" -> OnnxExport.exportLogistic)) {
      val e1 = intercept[IllegalArgumentException](export(noAssembler, s"$dir/$name.a"))
      assert(e1.getMessage.contains(s"$name: no VectorAssembler stage"))
      val e2 = intercept[IllegalArgumentException](export(noLr, s"$dir/$name.b"))
      assert(e2.getMessage.contains(s"$name needs a LogisticRegressionModel stage"))
      assert(!java.nio.file.Files.exists(dir.resolve(s"$name.a")))
    }
  }
}

class FeatureAssemblySpec extends SparkSpec {
  import spark.implicits._

  private lazy val profiles =
    Profiler.profile((1 to 50).map(i => (i.toLong, s"w$i b")).toDF("n", "s"), "t")

  test("columnTensors emit fixed-width z-scored stats + scaled minhash") {
    val t = FeatureAssembly.columnTensors(profiles, width = 256).collect()
    assert(t.length == 2)
    t.foreach { r =>
      val sv = r.getAs[scala.collection.Seq[Double]]("stats_vec")
      val mv = r.getAs[scala.collection.Seq[Double]]("minhash_vec")
      assert(sv.length == 256 && mv.length == 256)
      // z-scored over the FULL width (reference pads THEN zscores): pad
      // slots all share the (0-mu)/sd value, and the whole vector is
      // zero-mean
      assert(sv.drop(16).distinct.size == 1)
      assert(math.abs(sv.sum) < 1e-9)
      assert(mv.take(200).forall(v => v >= 0 && v < 43.0)) // 2^32/1e8
    }
  }

  test("snapshotTensor carries the table snapshot in the minhash channel") {
    val docs = (1 to 30).map(i => (i.toLong, s"v$i")).toDF("a", "b")
    val snap = graft.profile.Profiler.contentSnapshot(docs, "t")
    val out = FeatureAssembly.snapshotTensor(snap, width = 128).collect()(0)
    assert(out.getAs[scala.collection.Seq[Double]]("stats_vec").forall(_ == 0.0))
    val mv = out.getAs[scala.collection.Seq[Double]]("minhash_vec")
    assert(mv.take(100).exists(_ > 0) && mv.drop(100).forall(_ == 0.0))
  }

  test("tableText builds [SEP]-joined column text (T1)") {
    val txt = FeatureAssembly.tableText(profiles).collect()(0).getString(1)
    assert(txt == "t [SEP] n [SEP] s")
  }

  test("hashingSketch emits sorted sparse bucket:count strings (A14)") {
    val values = Profiler.longFormat((1 to 20).map(i => (i, s"tok$i x")).toDF("a", "b"))
      .withColumn("table_name", lit("t"))
    val hv = FeatureAssembly.hashingSketch(values, nFeatures = 512).collect()
    assert(hv.length == 2)
    val entries = hv.map(_.getAs[String]("hv_str")).flatMap(_.split(" "))
      .map { e => val Array(b, c) = e.split(":"); (b.toInt, c.toInt) }
    assert(entries.nonEmpty)
    assert(entries.forall { case (b, c) => b >= 0 && b < 512 && c > 0 })
    // the shared token "x" appears once per row of column b
    val colB = hv.find(_.getAs[Int]("col_idx") == 1).get.getAs[String]("hv_str")
    assert(colB.split(" ").map(_.split(":")(1).toInt).max == 20)
    // MLlib-interop variant still produces dense ML vectors
    val tf = FeatureAssembly.hashingSketchTF(values, nFeatures = 512).collect()
    assert(tf.head.getAs[org.apache.spark.ml.linalg.SparseVector]("hv").size == 512)
  }
}

class PoolingSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("meanPool averages token vectors per group in slot order (Q1)") {
    val df = Seq(
      ("t1", 0, Array(1.0f, 2.0f, 3.0f)),
      ("t1", 0, Array(3.0f, 4.0f, 5.0f)),
      ("t1", 1, Array(10.0f, 0.0f, 0.0f)))
      .toDF("table", "col_idx", "vec")
    val pooled = Pooling.meanPool(df, Seq("table", "col_idx"), "vec")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        r.getAs[scala.collection.Seq[Double]]("pooled")).toMap
    assert(pooled(("t1", 0)) == Seq(2.0, 3.0, 4.0))
    assert(pooled(("t1", 1)) == Seq(10.0, 0.0, 0.0))
  }

  test("l2Normalize produces unit vectors; zero vector stays zero") {
    val df = Seq(Array(3.0f, 4.0f), Array(0.0f, 0.0f)).toDF("v")
    val out = df.select(Pooling.l2Normalize(col("v"))).collect()
      .map(_.getAs[scala.collection.Seq[Double]](0))
    assert(out(0) == Seq(0.6, 0.8))
    assert(out(1) == Seq(0.0, 0.0))
  }
}

class WordPieceSpec extends SparkSpec {
  import spark.implicits._
  import WordPiece._

  private val vocab: Map[String, Long] =
    (Seq(Pad, Unk, Cls, Sep) ++ Seq("un", "##aff", "##able", "runn", "##ing", "x"))
      .zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap

  test("segmentWord: greedy longest-match with ## continuations (T2)") {
    assert(segmentWord("unaffable", vocab) == Seq(vocab("un"), vocab("##aff"), vocab("##able")))
    assert(segmentWord("running", vocab) == Seq(vocab("runn"), vocab("##ing")))
    // dead end (no piece covers 'z') -> whole word is [UNK]
    assert(segmentWord("zing", vocab) == Seq(vocab(Unk)))
  }

  test("encode: [CLS]/[SEP] frame, padding, truncation, mask") {
    val vdf = vocab.toSeq.toDF("piece", "id")
    val df = Seq((1, "unaffable running"), (2, "x x x x x x")).toDF("id", "text")
    val out = WordPiece.encode(df, "text", vdf, maxLen = 8).collect()
      .map(r => r.getAs[Int]("id") ->
        (r.getAs[scala.collection.Seq[Long]]("input_ids"),
         r.getAs[scala.collection.Seq[Int]]("attention_mask"))).toMap
    val (ids1, mask1) = out(1)
    assert(ids1 == Seq(vocab(Cls), vocab("un"), vocab("##aff"), vocab("##able"),
      vocab("runn"), vocab("##ing"), vocab(Sep), vocab(Pad)))
    assert(mask1 == Seq(1, 1, 1, 1, 1, 1, 1, 0))
    val (ids2, mask2) = out(2)  // 6 pieces truncate to maxLen-2
    assert(ids2.length == 8 && ids2.head == vocab(Cls) && ids2(7) == vocab(Sep))
    assert(mask2.forall(_ == 1))
  }

  test("buildVocab: specials + chars + frequent words, deterministic ids") {
    val texts = Seq("aa bb aa", "aa cc").toDF("text")
    val v = WordPiece.buildVocab(texts, "text", maxSize = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v(Pad) == 0 && v(Unk) == 1 && v(Cls) == 2 && v(Sep) == 3)
    assert(v.contains("a") && v.contains("##a") && v.contains("aa") && v.contains("bb"))
    assert(v.values.toSeq.distinct.length == v.size) // ids unique
    // whole-word segmentation now works end to end
    assert(segmentWord("aa", v) == Seq(v("aa")))
  }
}
