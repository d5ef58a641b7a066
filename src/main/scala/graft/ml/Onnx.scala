package graft.ml

/** ONNX export + pure-JVM session for the trained scoring head (Q7) — the
  * engine's re-expression of the reference's fine-tuned scorer artifact
  * (`/root/reference/tabsketchfm/tabsketchfm_finetune.py:64-117`).
  *
  * The artifact written by [[OnnxExport.exportLogistic]] is a REAL ONNX
  * `ModelProto` (protobuf wire format per the public onnx.proto schema;
  * opset 13): graph `features ─MatMul coef─ Add intercept ─ Sigmoid─
  * score`, DOUBLE tensors for bit-parity with the MLlib pipeline. Any
  * standard onnxruntime loads it unchanged. This container ships no
  * onnxruntime jar (offline build), so [[OnnxSession]] is the in-repo
  * session: it PARSES the protobuf back (no shared state with the writer
  * beyond the public format) and executes the graph nodes as data. The
  * per-partition factory slot ([[Scorer.onnxModelFactory]]) is exactly
  * where a JNI-backed `OrtSession` would open instead.
  */
object OnnxExport {

  import Proto._

  val OpsetVersion = 13L
  /** Opset for graphs using LayerNormalization (an official op since 17). */
  val OpsetVersionLn = 17L
  val DataTypeFloat = 1   // TensorProto.DataType.FLOAT (torch's default export dtype)
  val DataTypeDouble = 11 // TensorProto.DataType.DOUBLE
  val DataTypeInt64 = 7   // TensorProto.DataType.INT64

  // ---- shared protobuf constructors (one definition for all exporters) ----
  private def tensorMsg(name: String, dims: Seq[Long], data: Array[Double]): Array[Byte] = {
    concat(lenDelim(1, packedVarints(dims)), varintField(2, DataTypeDouble),
      lenDelim(10, packedDoubles(data)), stringField(8, name))
  }
  /** INT64 tensor (Reshape shape inputs, axis lists carried as tensors). */
  private def tensorMsgI64(name: String, dims: Seq[Long], data: Seq[Long]): Array[Byte] = {
    concat(lenDelim(1, packedVarints(dims)), varintField(2, DataTypeInt64),
      lenDelim(7, packedVarints(data)), stringField(8, name))
  }
  /** FLOAT (float32) tensor serialized through `raw_data` (field 9,
    * little-endian) — the layout torch's `onnx.export` writes. Weights
    * must be float32-representable exactly (the fixture families are
    * binary fractions), so the JVM double replay and the oracle's
    * literals stay bit-identical after the narrow. */
  private def tensorMsgF32(name: String, dims: Seq[Long], data: Array[Double]): Array[Byte] = {
    data.foreach { v =>
      require(v.toFloat.toDouble == v,
        s"tensorMsgF32 '$name': $v is not float32-exact — widen the fixture grid")
    }
    concat(lenDelim(1, packedVarints(dims)), varintField(2, DataTypeFloat),
      lenDelim(9, rawFloats(data)), stringField(8, name))
  }
  // AttributeProto: name=1, f=2(float), i=3(int64), ints=8, type=20
  // (FLOAT=1, INT=2, INTS=7 per the public onnx.proto enum)
  private def attrI(name: String, v: Long): Array[Byte] =
    concat(stringField(1, name), varintField(20, 2L), varintField(3, v))
  private def attrF(name: String, v: Float): Array[Byte] =
    concat(stringField(1, name), varintField(20, 1L),
      fixed32Field(2, java.lang.Float.floatToIntBits(v)))
  private def attrInts(name: String, vs: Seq[Long]): Array[Byte] =
    concat(stringField(1, name), varintField(20, 7L),
      lenDelim(8, packedVarints(vs)))
  private def nodeMsg(op: String, ins: Seq[String], out: String,
                      attrs: Seq[Array[Byte]] = Nil): Array[Byte] =
    nodeMsgMulti(op, ins, Seq(out), attrs)
  /** Node with several outputs (Split). */
  private def nodeMsgMulti(op: String, ins: Seq[String], outs: Seq[String],
                           attrs: Seq[Array[Byte]] = Nil): Array[Byte] = {
    concat((ins.map(stringField(1, _)) ++ outs.map(stringField(2, _)) :+
      stringField(4, op)) ++ attrs.map(lenDelim(5, _)): _*)
  }
  private def valueInfoMsg(name: String, dims: Seq[Either[String, Long]],
                           dtype: Int = DataTypeDouble): Array[Byte] = {
    val shape = concat(dims.map {
      case Left(param) => lenDelim(1, stringField(2, param))
      case Right(v)    => lenDelim(1, varintField(1, v))
    }: _*)
    concat(stringField(1, name),
      lenDelim(2, lenDelim(1, concat(varintField(1, dtype.toLong), lenDelim(2, shape)))))
  }

  /** Assemble + write one ModelProto: ir_version 8, producer "graft",
    * opset, the graph, and the feature column order in metadata_props. */
  private def writeModel(path: String, graphName: String,
                         nodes: Seq[Array[Byte]], inits: Seq[Array[Byte]],
                         input: (String, Seq[Either[String, Long]]),
                         output: (String, Seq[Either[String, Long]]),
                         features: Seq[String],
                         opset: Long = OpsetVersion): Unit =
    writeModelMulti(path, graphName, nodes, inits,
      Seq((input._1, input._2, DataTypeDouble)), output, features, opset)

  /** [[writeModel]] with several graph inputs, each carrying its own
    * element dtype in the ValueInfo (int64 id tensors vs float features —
    * the multi-input signature a torch-exported tabular BERT has). */
  private def writeModelMulti(path: String, graphName: String,
                              nodes: Seq[Array[Byte]], inits: Seq[Array[Byte]],
                              inputs: Seq[(String, Seq[Either[String, Long]], Int)],
                              output: (String, Seq[Either[String, Long]]),
                              features: Seq[String],
                              opset: Long = OpsetVersion): Unit = {
    val graph = concat(
      (nodes.map(lenDelim(1, _)) ++ Seq(stringField(2, graphName)) ++
        inits.map(lenDelim(5, _)) ++
        inputs.map { case (n, dm, dt) => lenDelim(11, valueInfoMsg(n, dm, dt)) } ++ Seq(
        lenDelim(12, valueInfoMsg(output._1, output._2)))): _*)
    val modelBytes = concat(
      varintField(1, 8L), stringField(2, "graft"), lenDelim(7, graph),
      lenDelim(8, varintField(2, opset)),
      lenDelim(14, concat(stringField(1, "features"),
        stringField(2, features.mkString(",")))))
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, modelBytes)
  }

  /** The pipeline's logistic stage as (feature columns, coefficients,
    * intercept), checked at EXPORT time rather than at the first scored
    * row: a NaN/Infinity coefficient (diverged fit) would serialize as an
    * invalid artifact, and a feature list that does not match the
    * coefficient width would only surface per row inside the scoring
    * kernel. `exporter` names the caller in the error messages. */
  private[ml] def logisticStage(model: org.apache.spark.ml.PipelineModel,
                                exporter: String): (Seq[String], Array[Double], Double) = {
    val lr = model.stages.collectFirst {
      case m: org.apache.spark.ml.classification.LogisticRegressionModel => m
    }.getOrElse(throw new IllegalArgumentException(
      s"$exporter needs a LogisticRegressionModel stage"))
    val feats = model.stages.collectFirst {
      case a: org.apache.spark.ml.feature.VectorAssembler => a.getInputCols.toSeq
    }.getOrElse(Seq.empty)
    val coefs = lr.coefficients.toArray
    require(coefs.forall(java.lang.Double.isFinite) &&
      java.lang.Double.isFinite(lr.intercept),
      s"$exporter: non-finite coefficient/intercept (diverged fit?): " +
        s"intercept=${lr.intercept}, coefficients=${coefs.mkString(",")}")
    require(feats.nonEmpty, s"$exporter: no VectorAssembler stage — " +
      "the artifact needs the feature column order to lay out batches")
    require(feats.length == coefs.length,
      s"$exporter: ${feats.length} feature columns vs " +
        s"${coefs.length} coefficients — pipeline stages inconsistent")
    (feats, coefs, lr.intercept)
  }

  /** Export the pipeline's logistic stage ([[logisticStage]]) as an ONNX
    * binary. */
  def exportLogistic(model: org.apache.spark.ml.PipelineModel, path: String): Unit = {
    val (feats, coefs, intercept) = logisticStage(model, "exportLogistic")
    val d = coefs.length
    writeModel(path, "graft_logistic",
      nodes = Seq(
        nodeMsg("MatMul", Seq("features", "coef"), "z0"),
        nodeMsg("Add", Seq("z0", "intercept"), "z1"),
        nodeMsg("Sigmoid", Seq("z1"), "score")),
      inits = Seq(
        tensorMsg("coef", Seq(d.toLong, 1L), coefs),
        tensorMsg("intercept", Seq(1L), Array(intercept))),
      input = ("features", Seq(Left("N"), Right(d.toLong))),
      output = ("score", Seq(Left("N"), Right(1L))),
      features = feats)
  }

  /** Export an MLP head as ONNX — the reference's `SimpleModel` baseline
    * shape (`SimpleModel.py:3-16`: Linear → ReLU → Linear), generalized
    * to any depth: MatMul+Add per layer, Relu between layers, optional
    * Sigmoid on the output (scoring vs embedding head). Each layer is
    * `(weights[d_in][d_out], bias[d_out])`. */
  def exportMlp(layers: Seq[(Array[Array[Double]], Array[Double])],
                features: Seq[String], path: String,
                finalSigmoid: Boolean = false): Unit = {
    require(layers.nonEmpty, "exportMlp: at least one layer")
    require(layers.head._1.length == features.length,
      s"exportMlp: ${features.length} features vs ${layers.head._1.length} first-layer rows")
    layers.sliding(2).foreach {
      case Seq((w1, b1), (w2, _)) =>
        require(w1.head.length == b1.length && b1.length == w2.length,
          "exportMlp: layer width mismatch")
      case _ => ()
    }
    layers.foreach { case (w, b) =>
      require(w.forall(r => r.length == b.length && r.forall(java.lang.Double.isFinite)) &&
        b.forall(java.lang.Double.isFinite), "exportMlp: ragged or non-finite layer")
    }
    val d = features.length
    val kOut = layers.last._2.length
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val inits = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var cur = "features"
    layers.zipWithIndex.foreach { case ((w, b), i) =>
      val last = i == layers.length - 1
      inits += tensorMsg(s"w$i", Seq(w.length.toLong, b.length.toLong), w.flatten)
      inits += tensorMsg(s"b$i", Seq(b.length.toLong), b)
      nodes += nodeMsg("MatMul", Seq(cur, s"w$i"), s"mm$i")
      val addOut = if (last && !finalSigmoid) "out" else s"a$i"
      nodes += nodeMsg("Add", Seq(s"mm$i", s"b$i"), addOut)
      cur = addOut
      if (!last) {
        nodes += nodeMsg("Relu", Seq(cur), s"r$i"); cur = s"r$i"
      } else if (finalSigmoid) {
        nodes += nodeMsg("Sigmoid", Seq(cur), "out"); cur = "out"
      }
    }
    writeModel(path, "graft_mlp", nodes.toSeq, inits.toSeq,
      input = ("features", Seq(Left("N"), Right(d.toLong))),
      output = ("out", Seq(Left("N"), Right(kOut.toLong))),
      features = features)
  }

  /** Export a linear projection head `x·W + b` as ONNX — the Q1/Q6
    * embedding-head shape (`extract_embeddings.py:16-73`,
    * `embedding_search.py:29-37`): pooled per-column features in,
    * `k`-dim embedding out. `weights` is row-major `[d][k]`. */
  def exportLinearMap(weights: Array[Array[Double]], bias: Array[Double],
                      features: Seq[String], path: String): Unit = {
    val d = weights.length
    require(d > 0 && d == features.length,
      s"exportLinearMap: ${features.length} features vs $d weight rows")
    val k = weights(0).length
    require(weights.forall(_.length == k) && bias.length == k,
      "exportLinearMap: ragged weights or bias width mismatch")
    require(weights.forall(_.forall(java.lang.Double.isFinite)) &&
      bias.forall(java.lang.Double.isFinite), "exportLinearMap: non-finite weight")
    writeModel(path, "graft_linear_map",
      nodes = Seq(
        nodeMsg("MatMul", Seq("features", "weights"), "z0"),
        nodeMsg("Add", Seq("z0", "bias"), "embedding")),
      inits = Seq(
        tensorMsg("weights", Seq(d.toLong, k.toLong), weights.flatten),
        tensorMsg("bias", Seq(k.toLong), bias)),
      input = ("features", Seq(Left("N"), Right(d.toLong))),
      output = ("embedding", Seq(Left("N"), Right(k.toLong))),
      features = features)
  }

  /** The weights an encoder layer applies after attention, shared by
    * [[EncoderLayer]] and [[CheckpointLayer]]: `wo`/`bo` the output
    * projection `[dModel][dModel]`; `w1/bf1`, `w2/bf2` the FFN; g1/b1
    * and g2/b2 the two LayerNorm scale/bias pairs. */
  final case class LayerTail(
      wo: Array[Array[Double]], bo: Array[Double],
      g1: Array[Double], b1: Array[Double],
      w1: Array[Array[Double]], bf1: Array[Double],
      w2: Array[Array[Double]], bf2: Array[Double],
      g2: Array[Double], b2: Array[Double])

  /** One encoder layer's weights for [[exportEncoderStack]] — the E4
    * shape (`transformer_bert.py:88-224`
    * encoder layer; `extract_embeddings.py:16-117` checkpoint-driven
    * scoring) at toy dimensions: `wq/wk/wv(h)(d)(e)` are per-head
    * projections `[dModel][dHead]`, then `tail`. */
  final case class EncoderLayer(
      wq: Array[Array[Array[Double]]], wk: Array[Array[Array[Double]]],
      wv: Array[Array[Array[Double]]], tail: LayerTail)

  /** A DEEP encoder: `layers` stacked attention+FFN blocks (the
    * reference's BERT runs 12 of exactly this block,
    * `transformer_bert.py:88-224`) + the pooled head `wHead`/`bHead`. */
  final case class EncoderStack(
      seqLen: Int, dModel: Int, nHeads: Int, dFf: Int,
      layers: Seq[EncoderLayer],
      wHead: Array[Double], bHead: Double,
      attScale: Double, lnEps: Double)

  /** Export a REAL (toy-sized, arbitrarily DEEP) transformer encoder as
    * ONNX, opset 17: Reshape [N, S·D] → [N, S, D]; per layer — per-head
    * Q/K/V MatMuls, K transpose, scaled QKᵀ, Softmax over keys,
    * attention-weighted V, head Concat, output projection + residual +
    * LayerNormalization, Sigmoid FFN + residual + LayerNormalization —
    * then mean-pool over positions and (optionally) linear + Sigmoid
    * score. Every op executes in [[OnnxSession]] — the demonstration
    * that the pure-JVM session runs ENCODER-shaped graphs (3-D tensors,
    * attention MatMuls, Softmax, LayerNorm), not just the linear/MLP
    * heads; node/initializer names are layer-prefixed so the graph is
    * plainly N stacked copies of the reference block. Input column order
    * is the flattened `x_{s}_{d}` (position-major) feature list.
    *
    * @param withHead true → sigmoid classifier output `score [N,1]`
    *                  (Q7 pair scoring); false → the graph STOPS at the
    *                  mean-pooled encoder state `pooled [N,dModel]` — the
    *                  sentence/value EMBEDDING shape (Q6,
    *                  `embedding_search.py:25-42`), consumed through
    *                  [[Scorer.onnxEmbedderFactory]]. */
  def exportEncoderStack(w: EncoderStack, path: String,
                         withHead: Boolean = true,
                         activation: String = "Sigmoid"): Unit = {
    val (s, d, h, f) = (w.seqLen, w.dModel, w.nHeads, w.dFf)
    require(h > 0 && d % h == 0, s"dModel $d must divide into $h heads")
    require(w.layers.nonEmpty, "exportEncoderStack: at least one layer")
    require(Set("Sigmoid", "Tanh", "Relu", "Erf", "Gelu", "GeluErf").contains(activation),
      s"unsupported FFN activation '$activation'")
    val dh = d / h
    val features = for (i <- 0 until s; j <- 0 until d) yield s"x_${i}_$j"
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val inits = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    inits += tensorMsgI64("shape_sd", Seq(3L), Seq(-1L, s.toLong, d.toLong))
    inits += tensorMsg("att_scale", Seq(1L), Array(w.attScale))
    if (activation == "Gelu") {
      // BERT's GELU in the tanh approximation, the constants torch's
      // approximate='tanh' export bakes in: √(2/π) and 0.044715
      inits += tensorMsg("gelu_c1", Seq(1L), Array(0.7978845608028654))
      inits += tensorMsg("gelu_c2", Seq(1L), Array(0.044715))
      inits += tensorMsg("gelu_one", Seq(1L), Array(1.0))
      inits += tensorMsg("gelu_half", Seq(1L), Array(0.5))
    }
    if (activation == "GeluErf") {
      // exact GELU 0.5·z·(1+erf(z/√2)) — the Div/Erf chain a default
      // (approximate='none') torch nn.GELU export emits; √2 as the
      // nearest double, the literal the exported Div node divides by
      inits += tensorMsg("gelu_sqrt2", Seq(1L), Array(1.4142135623730951))
      inits += tensorMsg("gelu_one", Seq(1L), Array(1.0))
      inits += tensorMsg("gelu_half", Seq(1L), Array(0.5))
    }
    nodes += nodeMsg("Reshape", Seq("features", "shape_sd"), "x0")
    var cur = "x0"
    w.layers.zipWithIndex.foreach { case (lw, l) =>
      val P = s"L$l"
      val headOuts = (0 until h).map { hi =>
        inits += tensorMsg(s"${P}wq$hi", Seq(d.toLong, dh.toLong), lw.wq(hi).flatten)
        inits += tensorMsg(s"${P}wk$hi", Seq(d.toLong, dh.toLong), lw.wk(hi).flatten)
        inits += tensorMsg(s"${P}wv$hi", Seq(d.toLong, dh.toLong), lw.wv(hi).flatten)
        nodes += nodeMsg("MatMul", Seq(cur, s"${P}wq$hi"), s"${P}q$hi")
        nodes += nodeMsg("MatMul", Seq(cur, s"${P}wk$hi"), s"${P}k$hi")
        nodes += nodeMsg("MatMul", Seq(cur, s"${P}wv$hi"), s"${P}v$hi")
        nodes += nodeMsg("Transpose", Seq(s"${P}k$hi"), s"${P}kT$hi",
          Seq(attrInts("perm", Seq(0L, 2L, 1L))))
        nodes += nodeMsg("MatMul", Seq(s"${P}q$hi", s"${P}kT$hi"), s"${P}sc$hi")
        nodes += nodeMsg("Mul", Seq(s"${P}sc$hi", "att_scale"), s"${P}scl$hi")
        nodes += nodeMsg("Softmax", Seq(s"${P}scl$hi"), s"${P}at$hi",
          Seq(attrI("axis", -1L)))
        nodes += nodeMsg("MatMul", Seq(s"${P}at$hi", s"${P}v$hi"), s"${P}hd$hi")
        s"${P}hd$hi"
      }
      nodes += nodeMsg("Concat", headOuts, s"${P}ctx", Seq(attrI("axis", -1L)))
      inits += tensorMsg(s"${P}wo", Seq(d.toLong, d.toLong), lw.tail.wo.flatten)
      inits += tensorMsg(s"${P}bo", Seq(d.toLong), lw.tail.bo)
      nodes += nodeMsg("MatMul", Seq(s"${P}ctx", s"${P}wo"), s"${P}pj0")
      nodes += nodeMsg("Add", Seq(s"${P}pj0", s"${P}bo"), s"${P}pj")
      nodes += nodeMsg("Add", Seq(s"${P}pj", cur), s"${P}r1")
      inits += tensorMsg(s"${P}g1", Seq(d.toLong), lw.tail.g1)
      inits += tensorMsg(s"${P}b1", Seq(d.toLong), lw.tail.b1)
      nodes += nodeMsg("LayerNormalization",
        Seq(s"${P}r1", s"${P}g1", s"${P}b1"), s"${P}l1",
        Seq(attrI("axis", -1L), attrF("epsilon", w.lnEps.toFloat)))
      inits += tensorMsg(s"${P}w1", Seq(d.toLong, f.toLong), lw.tail.w1.flatten)
      inits += tensorMsg(s"${P}bf1", Seq(f.toLong), lw.tail.bf1)
      inits += tensorMsg(s"${P}w2", Seq(f.toLong, d.toLong), lw.tail.w2.flatten)
      inits += tensorMsg(s"${P}bf2", Seq(d.toLong), lw.tail.bf2)
      // FFN activation — default Sigmoid: the DuckDB oracle has no
      // tanh/erf builtin, and sigmoid keeps BOTH engines on the literal
      // formula 1/(1+exp(−z)) — exp is then the only libm call in the
      // whole graph whose rounding differs across engines. The Tanh
      // variant (BERT's activation neighborhood) is oracle-covered too:
      // DuckDB replays tanh as (exp(2z)−1)/(exp(2z)+1), which differs
      // from the session's correctly-rounded math.tanh by ≤1 ulp —
      // inside the 6-dp rounding discipline.
      nodes += nodeMsg("MatMul", Seq(s"${P}l1", s"${P}w1"), s"${P}f0")
      nodes += nodeMsg("Add", Seq(s"${P}f0", s"${P}bf1"), s"${P}f1")
      if (activation == "Gelu") {
        // tanh-approx GELU decomposed into primitive nodes, the shape a
        // torch approximate='tanh' export emits:
        // 0.5 · z · (1 + tanh(√(2/π) · (z + 0.044715 · z³)))
        // "gl"-prefixed scratch names: ${P}g1/${P}g2 are the LayerNorm
        // scale initializers — a bare g-index here would shadow them
        nodes += nodeMsg("Mul", Seq(s"${P}f1", s"${P}f1"), s"${P}gl0")
        nodes += nodeMsg("Mul", Seq(s"${P}gl0", s"${P}f1"), s"${P}gl1")
        nodes += nodeMsg("Mul", Seq(s"${P}gl1", "gelu_c2"), s"${P}gl2")
        nodes += nodeMsg("Add", Seq(s"${P}f1", s"${P}gl2"), s"${P}gl3")
        nodes += nodeMsg("Mul", Seq(s"${P}gl3", "gelu_c1"), s"${P}gl4")
        nodes += nodeMsg("Tanh", Seq(s"${P}gl4"), s"${P}gl5")
        nodes += nodeMsg("Add", Seq(s"${P}gl5", "gelu_one"), s"${P}gl6")
        nodes += nodeMsg("Mul", Seq(s"${P}f1", s"${P}gl6"), s"${P}gl7")
        nodes += nodeMsg("Mul", Seq(s"${P}gl7", "gelu_half"), s"${P}f2")
      } else if (activation == "GeluErf") {
        // exact GELU decomposed into the Div→Erf→Add→Mul→Mul chain a
        // torch nn.GELU() (approximate='none') export writes:
        // 0.5 · z · (1 + erf(z / √2))
        nodes += nodeMsg("Div", Seq(s"${P}f1", "gelu_sqrt2"), s"${P}ge0")
        nodes += nodeMsg("Erf", Seq(s"${P}ge0"), s"${P}ge1")
        nodes += nodeMsg("Add", Seq(s"${P}ge1", "gelu_one"), s"${P}ge2")
        nodes += nodeMsg("Mul", Seq(s"${P}f1", s"${P}ge2"), s"${P}ge3")
        nodes += nodeMsg("Mul", Seq(s"${P}ge3", "gelu_half"), s"${P}f2")
      } else nodes += nodeMsg(activation, Seq(s"${P}f1"), s"${P}f2")
      nodes += nodeMsg("MatMul", Seq(s"${P}f2", s"${P}w2"), s"${P}f3")
      nodes += nodeMsg("Add", Seq(s"${P}f3", s"${P}bf2"), s"${P}f4")
      nodes += nodeMsg("Add", Seq(s"${P}f4", s"${P}l1"), s"${P}r2")
      inits += tensorMsg(s"${P}g2", Seq(d.toLong), lw.tail.g2)
      inits += tensorMsg(s"${P}b2", Seq(d.toLong), lw.tail.b2)
      nodes += nodeMsg("LayerNormalization",
        Seq(s"${P}r2", s"${P}g2", s"${P}b2"), s"x${l + 1}",
        Seq(attrI("axis", -1L), attrF("epsilon", w.lnEps.toFloat)))
      cur = s"x${l + 1}"
    }
    nodes += nodeMsg("ReduceMean", Seq(cur), "pooled",
      Seq(attrInts("axes", Seq(1L)), attrI("keepdims", 0L)))
    if (withHead) {
      inits += tensorMsg("w_head", Seq(d.toLong, 1L), w.wHead)
      inits += tensorMsg("b_head", Seq(1L), Array(w.bHead))
      nodes += nodeMsg("MatMul", Seq("pooled", "w_head"), "z0")
      nodes += nodeMsg("Add", Seq("z0", "b_head"), "z1")
      nodes += nodeMsg("Sigmoid", Seq("z1"), "score")
    }
    val out = if (withHead) ("score", Seq(Left("N"): Either[String, Long], Right(1L)))
      else ("pooled", Seq(Left("N"): Either[String, Long], Right(d.toLong)))
    writeModel(path, "graft_mini_encoder", nodes.toSeq, inits.toSeq,
      input = ("features", Seq(Left("N"), Right((s * d).toLong))),
      output = out,
      features = features, opset = OpsetVersionLn)
  }

  // ---- the realistic-checkpoint export (E4 parity) -------------------

  /** One encoder layer of a torch-export-style checkpoint: FUSED QKV
    * projection `[dModel, 3·dModel]` (split + per-head sliced at
    * runtime, the way real exports carve attention heads), then the
    * same [[LayerTail]] as an [[EncoderLayer]]. */
  final case class CheckpointLayer(
      wqkv: Array[Array[Double]], bqkv: Array[Double], tail: LayerTail)

  /** A REALISTIC (toy-dimensioned) tabular-BERT checkpoint — the
    * reference's `TabularBertEmbeddings` 6-way input sum
    * (`/root/reference/tabsketchfm/models/transformer_bert.py:24-87`:
    * word + token-type + token-position + position Gathers, value and
    * minhash Linears, LayerNorm) feeding a stack of encoder blocks and a
    * masked mean-pool. All float tensors serialize as FLOAT32 raw_data,
    * ids as INT64 — the dtypes a torch `onnx.export` writes. */
  final case class TabularCheckpoint(
      seqLen: Int, dModel: Int, nHeads: Int, dFf: Int, mWidth: Int,
      wordEmb: Array[Array[Double]],    // [V, D]
      typeEmb: Array[Array[Double]],    // [T, D]
      tokposEmb: Array[Array[Double]],  // [P, D]
      posEmb: Array[Array[Double]],     // [S, D]
      wVal: Array[Array[Double]], bVal: Array[Double],  // [D, D], [D]
      wMin: Array[Array[Double]], bMin: Array[Double],  // [M, D], [D]
      gEmb: Array[Double], bEmb: Array[Double],
      layers: Seq[CheckpointLayer],
      attScale: Double, lnEps: Double)

  /** Export [[TabularCheckpoint]] as the graph a torch export would
    * produce, opset 13 (NO LayerNormalization op — every LayerNorm is
    * the decomposed ReduceMean/Sub/Pow/Add/Sqrt/Div/Mul/Add chain, with
    * keepdims left to its spec DEFAULT of 1):
    * Cast→Gather embedding lookups from int64 id inputs, value/minhash
    * Linear adds, the additive attention mask `(1−mask)·(−10000)`
    * unsqueezed onto the logits, fused-QKV Split + per-head Slice
    * attention, Sigmoid FFN, and a masked mean-pool
    * (Mul/ReduceSum/Div). Inputs: `input_ids`, `type_ids`,
    * `tokpos_ids` (int64 [N,S]); `attention_mask` (float [N,S]);
    * `value_vals` (float [N,S·D]); `minhash_vals` (float [N,S·M]).
    * Output: `pooled` [N, dModel]. */
  def exportTabularCheckpoint(w: TabularCheckpoint, path: String): Unit = {
    val (s, d, h, f, mW) = (w.seqLen, w.dModel, w.nHeads, w.dFf, w.mWidth)
    require(h > 0 && d % h == 0, s"dModel $d must divide into $h heads")
    require(w.layers.nonEmpty, "exportTabularCheckpoint: at least one layer")
    require(w.posEmb.length == s, s"posEmb rows ${w.posEmb.length} != seqLen $s")
    val dh = d / h
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val inits = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

    // aux tensors (int64 shapes/axes, float32 scalars)
    inits += tensorMsgI64("pos_ids", Seq(s.toLong), (0L until s.toLong))
    inits += tensorMsgI64("shape_sd", Seq(3L), Seq(-1L, s.toLong, d.toLong))
    inits += tensorMsgI64("shape_sm", Seq(3L), Seq(-1L, s.toLong, mW.toLong))
    inits += tensorMsgI64("ax1", Seq(1L), Seq(1L))
    inits += tensorMsgI64("ax2", Seq(1L), Seq(2L))
    inits += tensorMsgI64("ax_last", Seq(1L), Seq(2L))
    inits += tensorMsgI64("split_ddd", Seq(3L), Seq(d.toLong, d.toLong, d.toLong))
    (0 until h).foreach { hi =>
      inits += tensorMsgI64(s"hs$hi", Seq(1L), Seq((hi * dh).toLong))
      inits += tensorMsgI64(s"he$hi", Seq(1L), Seq(((hi + 1) * dh).toLong))
    }
    inits += tensorMsgF32("two", Seq(1L), Array(2.0))
    inits += tensorMsgF32("one", Seq(1L), Array(1.0))
    inits += tensorMsgF32("neg_big", Seq(1L), Array(-10000.0))
    inits += tensorMsgF32("eps", Seq(1L), Array(w.lnEps))
    inits += tensorMsgF32("att_scale", Seq(1L), Array(w.attScale))

    // decomposed LayerNorm: the opset-13 chain torch emits
    def ln(src: String, g: String, b: String, out: String, pfx: String): Unit = {
      nodes += nodeMsg("ReduceMean", Seq(src), s"${pfx}mu",
        Seq(attrInts("axes", Seq(-1L)))) // keepdims omitted → spec default 1
      nodes += nodeMsg("Sub", Seq(src, s"${pfx}mu"), s"${pfx}xc")
      nodes += nodeMsg("Pow", Seq(s"${pfx}xc", "two"), s"${pfx}x2")
      nodes += nodeMsg("ReduceMean", Seq(s"${pfx}x2"), s"${pfx}vr",
        Seq(attrInts("axes", Seq(-1L))))
      nodes += nodeMsg("Add", Seq(s"${pfx}vr", "eps"), s"${pfx}ve")
      nodes += nodeMsg("Sqrt", Seq(s"${pfx}ve"), s"${pfx}sd")
      nodes += nodeMsg("Div", Seq(s"${pfx}xc", s"${pfx}sd"), s"${pfx}xn")
      nodes += nodeMsg("Mul", Seq(s"${pfx}xn", g), s"${pfx}xg")
      nodes += nodeMsg("Add", Seq(s"${pfx}xg", b), out)
    }

    // ---- TabularBertEmbeddings: the 6-way input sum ----
    inits += tensorMsgF32("word_emb",
      Seq(w.wordEmb.length.toLong, d.toLong), w.wordEmb.flatten)
    inits += tensorMsgF32("type_emb",
      Seq(w.typeEmb.length.toLong, d.toLong), w.typeEmb.flatten)
    inits += tensorMsgF32("tokpos_emb",
      Seq(w.tokposEmb.length.toLong, d.toLong), w.tokposEmb.flatten)
    inits += tensorMsgF32("pos_emb", Seq(s.toLong, d.toLong), w.posEmb.flatten)
    inits += tensorMsgF32("w_val", Seq(d.toLong, d.toLong), w.wVal.flatten)
    inits += tensorMsgF32("b_val", Seq(d.toLong), w.bVal)
    inits += tensorMsgF32("w_min", Seq(mW.toLong, d.toLong), w.wMin.flatten)
    inits += tensorMsgF32("b_min", Seq(d.toLong), w.bMin)
    inits += tensorMsgF32("g_emb", Seq(d.toLong), w.gEmb)
    inits += tensorMsgF32("b_emb", Seq(d.toLong), w.bEmb)
    nodes += nodeMsg("Cast", Seq("input_ids"), "ids64", Seq(attrI("to", 7L)))
    nodes += nodeMsg("Gather", Seq("word_emb", "ids64"), "we")
    nodes += nodeMsg("Cast", Seq("type_ids"), "ty64", Seq(attrI("to", 7L)))
    nodes += nodeMsg("Gather", Seq("type_emb", "ty64"), "te")
    nodes += nodeMsg("Add", Seq("we", "te"), "s1")
    nodes += nodeMsg("Cast", Seq("tokpos_ids"), "tp64", Seq(attrI("to", 7L)))
    nodes += nodeMsg("Gather", Seq("tokpos_emb", "tp64"), "tpe")
    nodes += nodeMsg("Add", Seq("s1", "tpe"), "s2")
    nodes += nodeMsg("Gather", Seq("pos_emb", "pos_ids"), "pp")
    nodes += nodeMsg("Add", Seq("s2", "pp"), "s3") // [S,D] broadcast onto [N,S,D]
    nodes += nodeMsg("Reshape", Seq("value_vals", "shape_sd"), "vv")
    nodes += nodeMsg("MatMul", Seq("vv", "w_val"), "vw")
    nodes += nodeMsg("Add", Seq("vw", "b_val"), "ve_")
    nodes += nodeMsg("Add", Seq("s3", "ve_"), "s4")
    nodes += nodeMsg("Reshape", Seq("minhash_vals", "shape_sm"), "mv")
    nodes += nodeMsg("MatMul", Seq("mv", "w_min"), "mw")
    nodes += nodeMsg("Add", Seq("mw", "b_min"), "me")
    nodes += nodeMsg("Add", Seq("s4", "me"), "s5")
    ln("s5", "g_emb", "b_emb", "x0", "E")

    // additive attention mask: (1 − mask) · (−10000), [N,1,S]
    nodes += nodeMsg("Sub", Seq("one", "attention_mask"), "im")
    nodes += nodeMsg("Mul", Seq("im", "neg_big"), "em")
    nodes += nodeMsg("Unsqueeze", Seq("em", "ax1"), "em3")

    var cur = "x0"
    w.layers.zipWithIndex.foreach { case (lw, l) =>
      val P = s"L$l"
      require(lw.wqkv.length == d && lw.wqkv.head.length == 3 * d,
        s"layer $l: fused QKV must be [$d, ${3 * d}]")
      inits += tensorMsgF32(s"${P}wqkv", Seq(d.toLong, (3 * d).toLong), lw.wqkv.flatten)
      inits += tensorMsgF32(s"${P}bqkv", Seq((3 * d).toLong), lw.bqkv)
      nodes += nodeMsg("MatMul", Seq(cur, s"${P}wqkv"), s"${P}qkv0")
      nodes += nodeMsg("Add", Seq(s"${P}qkv0", s"${P}bqkv"), s"${P}qkv")
      nodes += nodeMsgMulti("Split", Seq(s"${P}qkv", "split_ddd"),
        Seq(s"${P}q", s"${P}k", s"${P}v"), Seq(attrI("axis", -1L)))
      val headOuts = (0 until h).map { hi =>
        Seq("q", "k", "v").foreach { nm =>
          nodes += nodeMsg("Slice",
            Seq(s"$P$nm", s"hs$hi", s"he$hi", "ax_last"), s"$P$nm$hi")
        }
        nodes += nodeMsg("Transpose", Seq(s"${P}k$hi"), s"${P}kT$hi",
          Seq(attrInts("perm", Seq(0L, 2L, 1L))))
        nodes += nodeMsg("MatMul", Seq(s"${P}q$hi", s"${P}kT$hi"), s"${P}sc$hi")
        nodes += nodeMsg("Mul", Seq(s"${P}sc$hi", "att_scale"), s"${P}scl$hi")
        nodes += nodeMsg("Add", Seq(s"${P}scl$hi", "em3"), s"${P}sclm$hi")
        nodes += nodeMsg("Softmax", Seq(s"${P}sclm$hi"), s"${P}at$hi",
          Seq(attrI("axis", -1L)))
        nodes += nodeMsg("MatMul", Seq(s"${P}at$hi", s"${P}v$hi"), s"${P}hd$hi")
        s"${P}hd$hi"
      }
      nodes += nodeMsg("Concat", headOuts, s"${P}ctx", Seq(attrI("axis", -1L)))
      inits += tensorMsgF32(s"${P}wo", Seq(d.toLong, d.toLong), lw.tail.wo.flatten)
      inits += tensorMsgF32(s"${P}bo", Seq(d.toLong), lw.tail.bo)
      nodes += nodeMsg("MatMul", Seq(s"${P}ctx", s"${P}wo"), s"${P}pj0")
      nodes += nodeMsg("Add", Seq(s"${P}pj0", s"${P}bo"), s"${P}pj")
      nodes += nodeMsg("Add", Seq(s"${P}pj", cur), s"${P}r1")
      inits += tensorMsgF32(s"${P}g1", Seq(d.toLong), lw.tail.g1)
      inits += tensorMsgF32(s"${P}b1", Seq(d.toLong), lw.tail.b1)
      ln(s"${P}r1", s"${P}g1", s"${P}b1", s"${P}l1", s"${P}n1")
      inits += tensorMsgF32(s"${P}w1", Seq(d.toLong, f.toLong), lw.tail.w1.flatten)
      inits += tensorMsgF32(s"${P}bf1", Seq(f.toLong), lw.tail.bf1)
      inits += tensorMsgF32(s"${P}w2", Seq(f.toLong, d.toLong), lw.tail.w2.flatten)
      inits += tensorMsgF32(s"${P}bf2", Seq(d.toLong), lw.tail.bf2)
      // Sigmoid FFN activation — the shared-exp-formula oracle discipline
      // (see exportEncoderStack's note; DuckDB 1.0 has no tanh/erf)
      nodes += nodeMsg("MatMul", Seq(s"${P}l1", s"${P}w1"), s"${P}f0")
      nodes += nodeMsg("Add", Seq(s"${P}f0", s"${P}bf1"), s"${P}f1")
      nodes += nodeMsg("Sigmoid", Seq(s"${P}f1"), s"${P}f2")
      nodes += nodeMsg("MatMul", Seq(s"${P}f2", s"${P}w2"), s"${P}f3")
      nodes += nodeMsg("Add", Seq(s"${P}f3", s"${P}bf2"), s"${P}f4")
      nodes += nodeMsg("Add", Seq(s"${P}f4", s"${P}l1"), s"${P}r2")
      inits += tensorMsgF32(s"${P}g2", Seq(d.toLong), lw.tail.g2)
      inits += tensorMsgF32(s"${P}b2", Seq(d.toLong), lw.tail.b2)
      ln(s"${P}r2", s"${P}g2", s"${P}b2", s"x${l + 1}", s"${P}n2")
      cur = s"x${l + 1}"
    }

    // masked mean pool: Σ_i x_i·mask_i / Σ_i mask_i
    nodes += nodeMsg("Unsqueeze", Seq("attention_mask", "ax2"), "masku")
    nodes += nodeMsg("Mul", Seq(cur, "masku"), "xm")
    nodes += nodeMsg("ReduceSum", Seq("xm", "ax1"), "psum",
      Seq(attrI("keepdims", 0L)))
    nodes += nodeMsg("ReduceSum", Seq("attention_mask", "ax1"), "pcnt",
      Seq(attrI("keepdims", 1L)))
    nodes += nodeMsg("Div", Seq("psum", "pcnt"), "pooled")

    val n = Left("N"): Either[String, Long]
    writeModelMulti(path, "graft_tabular_checkpoint", nodes.toSeq, inits.toSeq,
      inputs = Seq(
        ("input_ids", Seq(n, Right(s.toLong)), DataTypeInt64),
        ("type_ids", Seq(n, Right(s.toLong)), DataTypeInt64),
        ("tokpos_ids", Seq(n, Right(s.toLong)), DataTypeInt64),
        ("attention_mask", Seq(n, Right(s.toLong)), DataTypeFloat),
        ("value_vals", Seq(n, Right((s * d).toLong)), DataTypeFloat),
        ("minhash_vals", Seq(n, Right((s * mW).toLong)), DataTypeFloat)),
      output = ("pooled", Seq(n, Right(d.toLong))),
      features = Seq("input_ids", "type_ids", "tokpos_ids",
        "attention_mask", "value_vals", "minhash_vals"))
  }
}

/** Minimal ONNX session: parses a `ModelProto` and executes its graph —
  * MatMul / Add (bias broadcast) / Sigmoid over 2-D DOUBLE tensors, the op
  * set linear scoring heads need. Node list, tensor names, dims, and
  * weights all come from the parsed file; nothing is hard-coded to the
  * exporter's layout beyond the public schema.
  */
final class OnnxSession(modelBytes: Array[Byte]) extends Serializable {
  import Proto._

  /** Opt-in per-op-type wall accumulator (set GRAFT_ONNX_PROFILE=1):
    * [[forward]] adds each node's nanos under its op name, read back via
    * [[opProfileNanos]] — the measured basis for optimizing the session's
    * non-GEMM ops (generic elementwise loops were ~28% of a seq-512
    * BERT-base layer forward). One nanoTime pair per
    * node when on; a dead branch when off. */
  private val profiling = sys.env.get("GRAFT_ONNX_PROFILE").exists(_.nonEmpty)
  private val profAcc = scala.collection.mutable.Map.empty[String, Long]
  def opProfileNanos: Map[String, Long] = profAcc.toMap

  // EVERY nested parse goes through this wrapper, not just the top-level
  // ModelProto: malformed bytes can be length-consistent at the outer
  // framing while a nested graph/node/tensor message is garbage — those
  // must surface as not-a-ModelProto too, not as a raw bounds error.
  private def parsed(what: String, b: Array[Byte]): Message =
    try parse(b)
    catch { case e: RuntimeException =>
      throw new IllegalArgumentException(
        s"not a parseable ONNX ModelProto ($what, ${b.length} bytes): $e") }

  private val model = parsed("model", modelBytes)
  private val graph = parsed("graph", bytesAt(model, 7))
  require(graph.nonEmpty, "ONNX model has no graph (field 7 missing/empty)")

  /** metadata_props["features"] — the batch column order. */
  val features: Seq[String] = allBytes(model, 14).flatMap { kv =>
    val m = parsed("metadata_props", kv)
    if (stringAt(m, 1) == "features") stringAt(m, 2).split(',').toSeq else Nil
  }

  private case class Tensor(dims: Array[Int], data: Array[Double]) {
    def rank: Int = dims.length
  }

  /** One TensorProto body → dims + double payload. Shared by graph
    * initializers and tensor-valued node ATTRIBUTES (a `Constant` node's
    * `value`, `ConstantOfShape`'s fill value). raw_data (field 9, torch's
    * layout) wins when present; otherwise the typed repeated field. All
    * dtypes widen to double — float32 weights execute in double (lossless
    * widening), int64 ids/shapes are small integers held losslessly. */
  private def tensorBody(m: Message): Tensor = {
    val dims = packedVarintsAt(m, 1).map(_.toInt)
    val dt = varintAt(m, 2)
    val data = rawDataAt(m, dt).getOrElse(dt match {
      case OnnxExport.DataTypeDouble => packedDoublesAt(m, 10)
      case OnnxExport.DataTypeFloat  => packedFloatsAt(m, 4)
      case OnnxExport.DataTypeInt64  => packedVarintsAt(m, 7).map(_.toDouble).toArray
      case 9 => packedVarintsAt(m, 5).map(_.toDouble).toArray // BOOL int32_data
      case other => throw new IllegalArgumentException(
        s"OnnxSession executes FLOAT/DOUBLE/INT64/BOOL tensors; got data_type $other")
    })
    Tensor(dims.toArray, data)
  }

  private val initializers: Map[String, Tensor] = allBytes(graph, 5).map { t =>
    val m = parsed("initializer", t)
    stringAt(m, 8) -> tensorBody(m)
  }.toMap

  /** The attribute subset the executed op set uses: single int (axis,
    * keepdims, to), single float (epsilon), int list (perm, axes, split),
    * tensor (Constant/ConstantOfShape `value`). */
  private case class Attr(i: Long, f: Float, ints: Seq[Long], t: Option[Tensor],
                          s: String = "")
  private case class Node(op: String, ins: Seq[String], outs: Seq[String],
                          attrs: Map[String, Attr]) {
    def out: String = outs.head
  }
  private val nodes: Seq[Node] = allBytes(graph, 1).map { n =>
    val m = parsed("node", n)
    val attrs = allBytes(m, 5).map { a =>
      val am = parsed("attribute", a)
      val fBits = am.getOrElse(2, Nil).collectFirst { case Fixed32V(v) => v }
      val tv = allBytes(am, 5).headOption.map(b => tensorBody(parsed("attr tensor", b)))
      stringAt(am, 1) -> Attr(varintAt(am, 3),
        java.lang.Float.intBitsToFloat(fBits.getOrElse(0)),
        packedVarintsAt(am, 8), tv,
        stringAt(am, 4)) // AttributeProto.s — e.g. Gelu's 'approximate'
    }.toMap
    Node(stringAt(m, 4), allBytes(m, 1).map(new String(_, "UTF-8")),
      allBytes(m, 2).map(new String(_, "UTF-8")), attrs)
  }
  /** Every declared graph input, in declaration order — a realistic
    * checkpoint has several (input_ids, type ids, attention_mask, value
    * vectors…); the single-input scoring heads have one. */
  val inputNames: Seq[String] =
    allBytes(graph, 11).map(vi => stringAt(parsed("input", vi), 1))
  private val inputName: String = inputNames.headOption.getOrElse("")
  private val outputName: String = stringAt(parsed("output", bytesAt(graph, 12)), 1)

  /** Forward one [n, d] batch → n scores (the [n, 1] output flattened;
    * use [[runMatrix]] for wider heads). */
  def run(batch: Array[Array[Double]]): Array[Double] = {
    val out = forward(Map(inputName -> toTensor(batch)))
    require(out.data.length == batch.length,
      s"expected ${batch.length} scores, got ${out.data.length} values — " +
        "wide output head? use runMatrix")
    out.data
  }

  /** Forward one [n, d] batch → [n, k] rows (embedding heads). */
  def runMatrix(batch: Array[Array[Double]]): Array[Array[Double]] = {
    val out = forward(Map(inputName -> toTensor(batch)))
    rowsOf(out, batch.length)
  }

  /** Forward a MULTI-INPUT batch (a realistic checkpoint signature:
    * input_ids + type ids + attention_mask + value vectors…): each entry
    * is an [n, w] matrix bound to the graph input of that name; ids
    * arrive as whole doubles (the graph Casts them before Gather). All
    * declared inputs must be bound and row counts must agree. */
  def runMulti(inputs: Map[String, Array[Array[Double]]]): Array[Array[Double]] = {
    require(inputNames.nonEmpty, "graph declares no inputs")
    val missing = inputNames.filterNot(inputs.contains)
    require(missing.isEmpty, s"unbound graph inputs: ${missing.mkString(", ")}")
    val ns = inputs.values.map(_.length).toSet
    require(ns.size == 1, s"inconsistent batch row counts: $ns")
    val out = forward(inputs.map { case (k, v) => k -> toTensor(v) })
    rowsOf(out, ns.head)
  }

  private def toTensor(batch: Array[Array[Double]]): Tensor = {
    val n = batch.length
    if (n == 0) Tensor(Array(0, 0), Array.empty)
    else Tensor(Array(n, batch(0).length), batch.flatten)
  }

  private def rowsOf(out: Tensor, n: Int): Array[Array[Double]] = {
    if (n == 0) return Array.empty
    val k = out.data.length / n
    require(out.data.length == n * k, s"non-rectangular output ${out.data.length}")
    Array.tabulate(n)(i => java.util.Arrays.copyOfRange(out.data, i * k, (i + 1) * k))
  }

  // ---- rank-general op kernels -------------------------------------
  // Summation/iteration orders are FIXED (k ascending in MatMul, the
  // reduced axis ascending in ReduceMean/LayerNorm, lanes ascending in
  // Softmax) so an unrolled SQL replay of the same graph is
  // FP-bit-identical up to libm's exp/tanh (the q7 oracle discipline).

  /** [m,k]·[k,p] with k-ascending accumulation against a PRE-TRANSPOSED
    * right operand: bT is [p][k] row-major, so the inner loop reads both
    * operands contiguously (the naive b(t·p+j) walk strides the cache by
    * p — at BERT dims that single change is ~4× wall).
    *
    * Register-blocked 2×4: each inner-loop pass advances EIGHT output
    * accumulators (2 a-rows × 4 bT-cols), so the FP-add pipeline holds 8
    * independent dependency chains instead of 1 — a scalar dot product is
    * latency-bound at ~1 add per 4 cycles, and HotSpot cannot vectorize a
    * strict-order reduction. Every accumulator still sums its OWN products
    * in t-ascending order, so each output element is FP-bit-identical to
    * the naive loop — and hence to the unrolled-SQL oracle replay. */
  private def mm2T(a: Array[Double], bT: Array[Double],
                   m: Int, k: Int, p: Int, r: Array[Double]): Unit = {
    // L2 tiling over output columns: without it, every row-pair sweep
    // re-streams ALL of bT (18 MB at the FFN-up shape [768,3072]) from
    // DRAM — measured 3.9 GFLOP/s vs 6+ for L2-resident shapes, and
    // 6.9 GFLOP/s on ffn-up once tiled. A ~1 MiB column tile stays
    // cache-resident across the whole i sweep; tiling only reorders
    // WHICH outputs are computed when, never how one output accumulates.
    // k == 0 is a legal degenerate shape ([m,0]×[0,p], e.g. a Slice over
    // an empty range feeding MatMul): the result is all-zero and the
    // inner loops never run — but the tile divisor must not be zero
    if (k == 0) { java.util.Arrays.fill(r, 0, m * p, 0.0); return }
    val tile = math.max(4, ((1 << 20) / (8 * k)) & ~3)
    var jt = 0
    while (jt < p) {
      mm2TTile(a, bT, m, k, p, r, jt, math.min(jt + tile, p))
      jt += tile
    }
  }

  /** [[mm2T]] restricted to output columns [jStart, jEnd).
    *
    * Deliberately OFFSET-FREE (a, bT, r are indexed from 0): runtime
    * base-offset parameters defeat HotSpot's range-check elimination in
    * the inner loop — measured 1.6× wall on the FFN shape for the same
    * loop with ro/ao args. Batched callers
    * copy slices instead; a memcpy is noise next to the GEMM.
    *
    * The column/row TAILS live in their own methods: with the (dead, for
    * aligned shapes) tail loop nests inline, C2 compiles the hot 2×4
    * loop at HALF speed — 650 vs 346 ms on the FFN shape for
    * byte-identical inner code (the extra loop nests blow the
    * optimization budget of the main loop). With the column tiling, the
    * weight-transpose memo and the monomorphic elementwise loops, this
    * took a seq-512 BERT-base layer (d=768, h=12, ff=3072) from 3054 to
    * 1451 ms, min-of-3 on 32 cores. Splitting them out restores the floor; execution order and
    * per-element arithmetic are unchanged. */
  private def mm2TTile(a: Array[Double], bT: Array[Double],
                       m: Int, k: Int, p: Int, r: Array[Double],
                       jStart: Int, jEnd: Int): Unit = {
    var i = 0
    while (i + 2 <= m) {
      val a0 = i * k; val a1 = a0 + k
      var j = jStart
      while (j + 4 <= jEnd) {
        val b0 = j * k; val b1 = b0 + k; val b2 = b1 + k; val b3 = b2 + k
        var s00 = 0.0; var s01 = 0.0; var s02 = 0.0; var s03 = 0.0
        var s10 = 0.0; var s11 = 0.0; var s12 = 0.0; var s13 = 0.0
        var t = 0
        while (t < k) {
          val x0 = a(a0 + t); val x1 = a(a1 + t)
          val y0 = bT(b0 + t); val y1 = bT(b1 + t)
          val y2 = bT(b2 + t); val y3 = bT(b3 + t)
          s00 += x0 * y0; s01 += x0 * y1; s02 += x0 * y2; s03 += x0 * y3
          s10 += x1 * y0; s11 += x1 * y1; s12 += x1 * y2; s13 += x1 * y3
          t += 1
        }
        val o0 = i * p + j; val o1 = o0 + p
        r(o0) = s00; r(o0 + 1) = s01; r(o0 + 2) = s02; r(o0 + 3) = s03
        r(o1) = s10; r(o1 + 1) = s11; r(o1 + 2) = s12; r(o1 + 3) = s13
        j += 4
      }
      if (j < jEnd) colTail2(a, bT, k, p, r, i, j, jEnd)
      i += 2
    }
    if (i < m) rowTail(a, bT, k, p, r, i, jStart, jEnd)
  }

  /** Column tail of a row pair (jEnd−jStart not a multiple of 4). */
  private def colTail2(a: Array[Double], bT: Array[Double], k: Int, p: Int,
                       r: Array[Double], i: Int, j0: Int, jEnd: Int): Unit = {
    val a0 = i * k; val a1 = a0 + k
    var j = j0
    while (j < jEnd) {
      val bj = j * k
      var s0 = 0.0; var s1 = 0.0; var t = 0
      while (t < k) {
        val y = bT(bj + t); s0 += a(a0 + t) * y; s1 += a(a1 + t) * y; t += 1
      }
      r(i * p + j) = s0; r((i + 1) * p + j) = s1; j += 1
    }
  }

  /** Last row when m is odd: 1×4 then 1×1. */
  private def rowTail(a: Array[Double], bT: Array[Double], k: Int, p: Int,
                      r: Array[Double], i: Int, jStart: Int, jEnd: Int): Unit = {
    val ai = i * k
    var j = jStart
    while (j + 4 <= jEnd) {
      val b0 = j * k; val b1 = b0 + k; val b2 = b1 + k; val b3 = b2 + k
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      var t = 0
      while (t < k) {
        val x = a(ai + t)
        s0 += x * bT(b0 + t); s1 += x * bT(b1 + t)
        s2 += x * bT(b2 + t); s3 += x * bT(b3 + t)
        t += 1
      }
      val o = i * p + j
      r(o) = s0; r(o + 1) = s1; r(o + 2) = s2; r(o + 3) = s3
      j += 4
    }
    while (j < jEnd) {
      val bj = j * k
      var s = 0.0; var t = 0
      while (t < k) { s += a(ai + t) * bT(bj + t); t += 1 }
      r(i * p + j) = s; j += 1
    }
  }

  /** Transposed-weight cache for MatMul right operands that are GRAPH
    * INITIALIZERS (weights): those arrays are identity-stable for the
    * session's lifetime, so the cache is bounded by the checkpoint's
    * weight count — and the 18 MB cache-hostile strided transpose of an
    * FFN weight stops being re-paid on EVERY node execution of every
    * document (measured ~45% of session MatMul wall at BERT dims over
    * the raw kernel floor). Activations never enter
    * (fresh arrays each forward would leak the identity map). transient:
    * rebuilt lazily after task-side deserialization. */
  @transient private lazy val bTCache =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[Array[Double], Array[Double]]())
  private def cachedTransposed(b: Array[Double], k: Int, p: Int): Array[Double] = {
    val hit = bTCache.get(b)
    if (hit != null) hit
    else { val bT = transposedSlice(b, 0, k, p); bTCache.put(b, bT); bT }
  }

  /** The [k,p] slice of b at offset bo, transposed to [p][k] row-major
    * for [[mm2T]]'s contiguous inner loop. */
  private def transposedSlice(b: Array[Double], bo: Int,
                              k: Int, p: Int): Array[Double] = {
    val bT = new Array[Double](k * p)
    var t = 0
    while (t < k) {
      val row = bo + t * p
      var j = 0
      while (j < p) { bT(j * k + t) = b(row + j); j += 1 }
      t += 1
    }
    bT
  }

  /** MatMul: 2-D×2-D, batched 3-D×2-D (shared weights), and 3-D×3-D
    * (attention QKᵀ / attn·V). `cacheB` marks the right operand as a
    * graph initializer whose transpose may be memoized for the session's
    * lifetime ([[cachedTransposed]]); the 3-D×3-D case is always
    * activation×activation, so it never caches. */
  private def matmul(a: Tensor, b: Tensor,
                     cacheB: Boolean = false): Tensor = (a.rank, b.rank) match {
    case (2, 2) =>
      require(a.dims(1) == b.dims(0), s"MatMul [${a.dims.mkString(",")}]x[${b.dims.mkString(",")}]")
      val r = new Array[Double](a.dims(0) * b.dims(1))
      val bT = if (cacheB) cachedTransposed(b.data, a.dims(1), b.dims(1))
               else transposedSlice(b.data, 0, a.dims(1), b.dims(1))
      mm2T(a.data, bT, a.dims(0), a.dims(1), b.dims(1), r)
      Tensor(Array(a.dims(0), b.dims(1)), r)
    case (3, 2) =>
      require(a.dims(2) == b.dims(0), s"MatMul [${a.dims.mkString(",")}]x[${b.dims.mkString(",")}]")
      val (n, m, k, p) = (a.dims(0), a.dims(1), a.dims(2), b.dims(1))
      val bT = if (cacheB) cachedTransposed(b.data, k, p) // shared weights: once
               else transposedSlice(b.data, 0, k, p)
      batchedMatmul(a.data, n, m, k, p)(_ => bT)
    case (3, 3) =>
      require(a.dims(0) == b.dims(0) && a.dims(2) == b.dims(1),
        s"MatMul [${a.dims.mkString(",")}]x[${b.dims.mkString(",")}]")
      val (n, m, k, p) = (a.dims(0), a.dims(1), a.dims(2), b.dims(2))
      batchedMatmul(a.data, n, m, k, p)(bi => transposedSlice(b.data, bi * k * p, k, p))
    case (ra, rb) => throw new UnsupportedOperationException(
      s"MatMul ranks ${ra}x$rb")
  }

  /** `[n, m, k] × [.., k, p] → [n, m, p]`, where `bT(bi)` is batch `bi`'s
    * right operand, already transposed to `[p, k]`. */
  private def batchedMatmul(a: Array[Double], n: Int, m: Int, k: Int, p: Int)(
      bT: Int => Array[Double]): Tensor = {
    val r = new Array[Double](n * m * p)
    if (n == 1) mm2T(a, bT(0), m, k, p, r) // no slice copies
    else {
      // per-batch slice copies keep the kernel offset-free (see
      // mm2TTile); copy cost is linear in the operands, GEMM is cubic
      val rb = new Array[Double](m * p)
      var bi = 0
      while (bi < n) {
        val ab = java.util.Arrays.copyOfRange(a, bi * m * k, (bi + 1) * m * k)
        mm2T(ab, bT(bi), m, k, p, rb)
        System.arraycopy(rb, 0, r, bi * m * p, m * p)
        bi += 1
      }
    }
    Tensor(Array(n, m, p), r)
  }

  private def strides(dims: Array[Int]): Array[Int] = {
    val s = new Array[Int](dims.length)
    var acc = 1
    var i = dims.length - 1
    while (i >= 0) { s(i) = acc; acc *= dims(i); i -= 1 }
    s
  }

  private def transpose(a: Tensor, perm: Array[Int]): Tensor = {
    require(perm.length == a.rank && perm.sorted.sameElements(0 until a.rank),
      s"Transpose perm ${perm.mkString(",")} for rank ${a.rank}")
    val od = perm.map(a.dims)
    val inS = strides(a.dims)
    val outS = strides(od)
    val r = new Array[Double](a.data.length)
    val idx = new Array[Int](a.rank)
    var flat = 0
    while (flat < a.data.length) {
      // decompose flat input index, scatter to permuted output position
      var rem = flat; var k = 0
      while (k < a.rank) { idx(k) = rem / inS(k); rem %= inS(k); k += 1 }
      var o = 0; k = 0
      while (k < a.rank) { o += idx(perm(k)) * outS(k); k += 1 }
      r(o) = a.data(flat)
      flat += 1
    }
    Tensor(od, r)
  }

  /** Numerically-stable Softmax over the LAST axis (the only axis the
    * encoder graphs use): exp(x − rowmax) / Σ, lanes ascending. */
  private def softmaxLast(a: Tensor): Tensor = {
    val lane = a.dims(a.rank - 1)
    val rows = a.data.length / lane
    val r = new Array[Double](a.data.length)
    var row = 0
    while (row < rows) {
      val off = row * lane
      var m = a.data(off)
      var i = 1
      while (i < lane) { if (a.data(off + i) > m) m = a.data(off + i); i += 1 }
      var s = 0.0
      i = 0
      while (i < lane) { r(off + i) = math.exp(a.data(off + i) - m); s += r(off + i); i += 1 }
      i = 0
      while (i < lane) { r(off + i) /= s; i += 1 }
      row += 1
    }
    Tensor(a.dims, r)
  }

  /** Concat over the LAST axis. */
  private def concatLast(ts: Seq[Tensor]): Tensor = {
    val lead = ts.head.dims.dropRight(1)
    require(ts.forall(_.dims.dropRight(1).sameElements(lead)),
      "Concat: leading dims differ")
    val lanes = ts.map(_.dims.last)
    val outLane = lanes.sum
    val rows = ts.head.data.length / ts.head.dims.last
    val r = new Array[Double](rows * outLane)
    var row = 0
    while (row < rows) {
      var o = row * outLane
      var ti = 0
      while (ti < ts.length) {
        val t = ts(ti); val l = lanes(ti)
        System.arraycopy(t.data, row * l, r, o, l)
        o += l; ti += 1
      }
      row += 1
    }
    Tensor((lead :+ outLane).toArray, r)
  }

  /** LayerNormalization over the last axis: for each lane vector x,
    * out = ((x − mean) / sqrt(var + eps)) · scale + bias, with mean and
    * population variance accumulated lanes-ascending. */
  private def layerNorm(x: Tensor, scale: Tensor, bias: Tensor,
                        eps: Double): Tensor = {
    val lane = x.dims(x.rank - 1)
    require(scale.data.length == lane && bias.data.length == lane,
      s"LayerNormalization lane $lane vs scale ${scale.data.length}")
    val rows = x.data.length / lane
    val r = new Array[Double](x.data.length)
    var row = 0
    while (row < rows) {
      val off = row * lane
      var s = 0.0; var i = 0
      while (i < lane) { s += x.data(off + i); i += 1 }
      val mean = s / lane
      var v = 0.0; i = 0
      while (i < lane) {
        val d = x.data(off + i) - mean; v += d * d; i += 1
      }
      val varp = v / lane
      val inv = math.sqrt(varp + eps)
      i = 0
      while (i < lane) {
        r(off + i) = ((x.data(off + i) - mean) / inv) * scale.data(i) + bias.data(i)
        i += 1
      }
      row += 1
    }
    Tensor(x.dims, r)
  }

  /** ReduceMean/ReduceSum over ONE axis, axis-ascending accumulation.
    * keepdims keeps the reduced axis as size 1 (the ONNX spec DEFAULT —
    * a torch-exported LayerNorm decomposition relies on it for the
    * subsequent broadcast Sub/Div). */
  private def reduce(a: Tensor, axis: Int, keepdims: Boolean,
                     mean: Boolean): Tensor = {
    val ax = if (axis < 0) a.rank + axis else axis
    require(ax >= 0 && ax < a.rank, s"reduce axis $axis of rank ${a.rank}")
    val n = a.dims(ax)
    val outer = a.dims.take(ax).product
    val inner = a.dims.drop(ax + 1).product
    val r = new Array[Double](outer * inner)
    var o = 0
    while (o < outer) {
      var in = 0
      while (in < inner) {
        var s = 0.0; var k = 0
        while (k < n) { s += a.data((o * n + k) * inner + in); k += 1 }
        r(o * inner + in) = if (mean) s / n else s
        in += 1
      }
      o += 1
    }
    val od = if (keepdims) a.dims.updated(ax, 1)
             else a.dims.take(ax) ++ a.dims.drop(ax + 1)
    Tensor(od, r)
  }

  // ---- numpy-general broadcast elementwise binop ---------------------
  // Dims align from the TRAILING axis; each pair must be equal or 1.
  // Same-shape and trailing-suffix (bias [D] onto […,D]) take fast paths
  // that reproduce the historical modulo indexing bit-for-bit.
  private def bcast(opName: String, a: Tensor, b: Tensor,
                    f: (Double, Double) => Double): Tensor = {
    // The four arithmetic ops get monomorphic loops in the two fast
    // paths: the generic route costs a megamorphic Function2 call (and,
    // for the suffix path, an integer modulo) PER ELEMENT — measured at
    // ~28% of a seq-512 BERT-base encoder layer forward.
    // Same arithmetic on the same elements in the same order, so results
    // are bit-identical to the generic loops.
    val opcode = opName match {
      case "Add" => 1; case "Sub" => 2; case "Mul" => 3; case "Div" => 4
      case _ => 0
    }
    if (a.dims.sameElements(b.dims)) {
      val r = new Array[Double](a.data.length)
      val (x, y) = (a.data, b.data)
      var i = 0
      opcode match {
        case 1 => while (i < r.length) { r(i) = x(i) + y(i); i += 1 }
        case 2 => while (i < r.length) { r(i) = x(i) - y(i); i += 1 }
        case 3 => while (i < r.length) { r(i) = x(i) * y(i); i += 1 }
        case 4 => while (i < r.length) { r(i) = x(i) / y(i); i += 1 }
        case _ => while (i < r.length) { r(i) = f(x(i), y(i)); i += 1 }
      }
      return Tensor(a.dims, r)
    }
    // trailing-suffix fast path: b's dims are exactly a suffix of a's —
    // b repeats whole, so iterate (outer repeat × inner b-length) with no
    // per-element modulo
    val suffix = b.rank <= a.rank &&
      b.dims.sameElements(a.dims.takeRight(b.rank)) && b.data.length > 0
    if (suffix) {
      val r = new Array[Double](a.data.length)
      val (x, y) = (a.data, b.data)
      val bl = y.length
      var o = 0
      while (o < r.length) {
        var j = 0
        opcode match {
          case 1 => while (j < bl) { r(o + j) = x(o + j) + y(j); j += 1 }
          case 2 => while (j < bl) { r(o + j) = x(o + j) - y(j); j += 1 }
          case 3 => while (j < bl) { r(o + j) = x(o + j) * y(j); j += 1 }
          case 4 => while (j < bl) { r(o + j) = x(o + j) / y(j); j += 1 }
          case _ => while (j < bl) { r(o + j) = f(x(o + j), y(j)); j += 1 }
        }
        o += bl
      }
      return Tensor(a.dims, r)
    }
    val rank = math.max(a.rank, b.rank)
    val ad = Array.fill(rank)(1); Array.copy(a.dims, 0, ad, rank - a.rank, a.rank)
    val bd = Array.fill(rank)(1); Array.copy(b.dims, 0, bd, rank - b.rank, b.rank)
    val od = Array.tabulate(rank) { i =>
      require(ad(i) == bd(i) || ad(i) == 1 || bd(i) == 1,
        s"$opName: cannot broadcast [${a.dims.mkString(",")}] with [${b.dims.mkString(",")}]")
      math.max(ad(i), bd(i))
    }
    val as = strides(ad); val bs = strides(bd); val os = strides(od)
    val total = od.product
    val r = new Array[Double](total)
    var flat = 0
    while (flat < total) {
      var rem = flat; var ai = 0; var bi = 0; var k = 0
      while (k < rank) {
        val idx = rem / os(k); rem %= os(k)
        if (ad(k) != 1) ai += idx * as(k)
        if (bd(k) != 1) bi += idx * bs(k)
        k += 1
      }
      r(flat) = f(a.data(ai), b.data(bi))
      flat += 1
    }
    Tensor(od, r)
  }

  /** Gather along axis 0: table [V, …] indexed by whole-double ids of any
    * shape → output idx.dims ++ table.dims.drop(1) — the embedding-lookup
    * op (word/type/position tables). Out-of-range ids fail loudly. */
  private def gather(data: Tensor, idx: Tensor): Tensor = {
    require(data.rank >= 1, "Gather: rank-0 data")
    val v = data.dims(0)
    val inner = data.dims.drop(1).product
    val r = new Array[Double](idx.data.length * inner)
    var i = 0
    while (i < idx.data.length) {
      val id = idx.data(i).toInt
      require(id >= 0 && id < v && idx.data(i) == id.toDouble,
        s"Gather: index ${idx.data(i)} outside table [0, $v)")
      System.arraycopy(data.data, id * inner, r, i * inner, inner)
      i += 1
    }
    Tensor(idx.dims ++ data.dims.drop(1), r)
  }

  /** Slice with unit steps over explicit axes (the per-head Q/K/V carve
    * of a fused projection). starts/ends clamp per spec. */
  private def slice(a: Tensor, starts: Seq[Long], ends: Seq[Long],
                    axes: Seq[Long]): Tensor = {
    val st = a.dims.clone(); val lo = Array.fill(a.rank)(0)
    axes.indices.foreach { i =>
      val ax0 = axes(i).toInt
      val ax = if (ax0 < 0) a.rank + ax0 else ax0
      val d = a.dims(ax)
      def norm(v: Long): Int = {
        val w = if (v < 0) v + d else v
        math.max(0L, math.min(w, d.toLong)).toInt
      }
      lo(ax) = norm(starts(i)); st(ax) = norm(ends(i)) - lo(ax)
      require(st(ax) >= 0, s"Slice: empty/negative span on axis $ax")
    }
    val inS = strides(a.dims); val outS = strides(st)
    val total = st.product
    val r = new Array[Double](total)
    var flat = 0
    while (flat < total) {
      var rem = flat; var src = 0; var k = 0
      while (k < a.rank) {
        val idx = rem / outS(k); rem %= outS(k)
        src += (idx + lo(k)) * inS(k)
        k += 1
      }
      r(flat) = a.data(src)
      flat += 1
    }
    Tensor(st, r)
  }

  /** Split over the LAST axis into contiguous per-row chunks (the fused
    * QKV three-way split). */
  private def splitLast(a: Tensor, sizes: Seq[Int]): Seq[Tensor] = {
    val lane = a.dims(a.rank - 1)
    require(sizes.sum == lane, s"Split sizes ${sizes.mkString(",")} != lane $lane")
    val rows = a.data.length / lane
    var off = 0
    sizes.map { w =>
      val r = new Array[Double](rows * w)
      var row = 0
      while (row < rows) {
        System.arraycopy(a.data, row * lane + off, r, row * w, w)
        row += 1
      }
      off += w
      Tensor(a.dims.dropRight(1) :+ w, r)
    }
  }

  /** Where(cond, X, Y) with full numpy broadcasting across all THREE
    * inputs — the op torch emits for attention-mask select paths. */
  private def where3(c: Tensor, x: Tensor, y: Tensor): Tensor = {
    val rank = math.max(c.rank, math.max(x.rank, y.rank))
    def pad(t: Tensor): Array[Int] = {
      val d = Array.fill(rank)(1); Array.copy(t.dims, 0, d, rank - t.rank, t.rank); d
    }
    val cd = pad(c); val xd = pad(x); val yd = pad(y)
    val od = Array.tabulate(rank) { i =>
      val m = math.max(cd(i), math.max(xd(i), yd(i)))
      require((cd(i) == m || cd(i) == 1) && (xd(i) == m || xd(i) == 1) &&
        (yd(i) == m || yd(i) == 1),
        s"Where: cannot broadcast [${c.dims.mkString(",")}], " +
          s"[${x.dims.mkString(",")}], [${y.dims.mkString(",")}]")
      m
    }
    val cs = strides(cd); val xs = strides(xd); val ys = strides(yd)
    val os = strides(od)
    val total = od.product
    val r = new Array[Double](total)
    var flat = 0
    while (flat < total) {
      var rem = flat; var ci = 0; var xi = 0; var yi = 0; var k = 0
      while (k < rank) {
        val idx = rem / os(k); rem %= os(k)
        if (cd(k) != 1) ci += idx * cs(k)
        if (xd(k) != 1) xi += idx * xs(k)
        if (yd(k) != 1) yi += idx * ys(k)
        k += 1
      }
      r(flat) = if (c.data(ci) != 0.0) x.data(xi) else y.data(yi)
      flat += 1
    }
    Tensor(od, r)
  }

  /** erf(x), Abramowitz & Stegun 7.1.26 (|err| ≤ 1.5e-7) — the Gelu
    * building block; precision documented, spec-tested against known
    * values (not used by the oracle-verified encoder, which runs Sigmoid).
    */
  private def erf(x: Double): Double = {
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) *
      t - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
    if (x >= 0) y else -y
  }

  /** Last node index reading each tensor name — intermediates are
    * dropped from the live map the moment they are dead. Without this,
    * a seq-512 BERT layer retains ~200 MB of intermediates until the
    * forward returns, and G1 spends whole-second evacuation pauses
    * copying them (measured: MatMul wall 2× its kernel floor from GC
    * alone). With it the live window is a few tensors, and per-session
    * footprint stays bounded when one session runs per Spark partition
    * in a shared executor JVM. */
  @transient private lazy val lastUse: Map[String, Int] = {
    val m = scala.collection.mutable.Map.empty[String, Int]
    nodes.zipWithIndex.foreach { case (n, i) =>
      n.ins.foreach(in => if (in.nonEmpty) m(in) = i)
    }
    m.toMap
  }

  private def forward(inputs: Map[String, Tensor]): Tensor = {
    if (inputs.values.forall(_.data.isEmpty)) return Tensor(Array(0, 0), Array.empty)
    var values = inputs
    var nodeIdx = -1
    def get(name: String): Tensor =
      values.getOrElse(name, initializers.getOrElse(name,
        throw new IllegalStateException(s"unbound tensor '$name'")))
    nodes.foreach { node =>
      nodeIdx += 1
      def attr(name: String): Attr = node.attrs.getOrElse(name,
        throw new IllegalArgumentException(s"${node.op}: missing attr '$name'"))
      // axis list from the attr (opset ≤12) or a trailing tensor input
      // (opset 13 moved Unsqueeze/Slice/Split/ReduceSum axes to inputs)
      def axesAttrOrInput(attrName: String, inputIdx: Int): Seq[Long] =
        node.attrs.get(attrName).map(_.ints).filter(_.nonEmpty)
          .getOrElse {
            require(node.ins.length > inputIdx && node.ins(inputIdx).nonEmpty,
              s"${node.op}: no '$attrName' attribute and no input $inputIdx")
            get(node.ins(inputIdx)).data.map(_.toLong).toSeq
          }
      val tProf = if (profiling) System.nanoTime() else 0L
      val outs: Seq[Tensor] = node.op match {
        case "MatMul" => Seq(matmul(get(node.ins(0)), get(node.ins(1)),
          cacheB = initializers.contains(node.ins(1))))
        case "Gemm" => // alpha·op(A)·op(B) + beta·C — the linear-layer op
          // torch-exported checkpoints emit (MatMul+Add is our writers')
          val trA = node.attrs.get("transA").exists(_.i == 1L)
          val trB = node.attrs.get("transB").exists(_.i == 1L)
          val a = { val t = get(node.ins(0)); if (trA) transpose(t, Array(1, 0)) else t }
          val b = { val t = get(node.ins(1)); if (trB) transpose(t, Array(1, 0)) else t }
          require(a.rank == 2 && b.rank == 2, "Gemm: rank-2 inputs only")
          val alpha = node.attrs.get("alpha").map(_.f.toDouble).getOrElse(1.0)
          val beta = node.attrs.get("beta").map(_.f.toDouble).getOrElse(1.0)
          // a transB weight is transposed into a FRESH array each call —
          // identity-caching that would miss forever and leak an entry
          // per execution, so only the untransposed-initializer case
          // memoizes
          val mm = matmul(a, b,
            cacheB = !trB && initializers.contains(node.ins(1)))
          if (node.ins.length > 2 && node.ins(2).nonEmpty) {
            val c = get(node.ins(2))
            // ONNX unidirectional broadcast of C onto [m,p]: a row bias
            // [p], a column vector [m,1], or the full matrix — modulo
            // indexing would silently mis-broadcast [m,1], so C goes
            // through the same numpy-general broadcast as Add
            Seq(bcast("Gemm", if (alpha == 1.0) mm else Tensor(mm.dims,
              mm.data.map(alpha * _)), c, (x, y) => x + beta * y))
          } else if (alpha == 1.0) Seq(mm)
          else Seq(Tensor(mm.dims, mm.data.map(alpha * _)))
        case "Add" => Seq(bcast("Add", get(node.ins(0)), get(node.ins(1)), _ + _))
        case "Sub" => Seq(bcast("Sub", get(node.ins(0)), get(node.ins(1)), _ - _))
        case "Mul" => Seq(bcast("Mul", get(node.ins(0)), get(node.ins(1)), _ * _))
        case "Div" => Seq(bcast("Div", get(node.ins(0)), get(node.ins(1)), _ / _))
        case "Pow" => // exponent 2 is exactly x·x (the LayerNorm variance
          // decomposition) — Math.pow's 1-ulp licence would break the
          // bit-parity discipline with the oracle's literal x*x
          Seq(bcast("Pow", get(node.ins(0)), get(node.ins(1)),
            (x, e) => if (e == 2.0) x * x else math.pow(x, e)))
        case "Sqrt" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(math.sqrt)))
        case "Cast" => // storage is double throughout; int targets truncate
          // toward zero (the spec's float→int rule), float targets narrow,
          // bool collapses to 0/1 (the Equal→Cast→Where mask idiom)
          val a = get(node.ins(0))
          val to = attr("to").i
          Seq(to match {
            case 6 | 7 | 12 | 13 => Tensor(a.dims, a.data.map(v => v.toLong.toDouble))
            case 1 => Tensor(a.dims, a.data.map(v => v.toFloat.toDouble))
            case 9 => Tensor(a.dims, a.data.map(v => if (v != 0.0) 1.0 else 0.0))
            case _ => Tensor(a.dims, a.data)
          })
        case "Gather" =>
          val ax = node.attrs.get("axis").map(_.i).getOrElse(0L)
          require(ax == 0L, s"Gather: only axis 0 is supported, got $ax")
          Seq(gather(get(node.ins(0)), get(node.ins(1))))
        case "Unsqueeze" =>
          val a = get(node.ins(0))
          val axes = axesAttrOrInput("axes", 1)
          val outRank = a.rank + axes.length
          val norm = axes.map(x => if (x < 0) x + outRank else x).sorted
          require(norm.distinct.length == norm.length &&
            norm.forall(x => x >= 0 && x < outRank), s"Unsqueeze axes $axes")
          val dims = scala.collection.mutable.ArrayBuffer(a.dims.toSeq: _*)
          norm.foreach(x => dims.insert(x.toInt, 1))
          Seq(Tensor(dims.toArray, a.data))
        case "Squeeze" =>
          val a = get(node.ins(0))
          // axes from the attr (opset ≤12) or input 1 (13+); with NO axes
          // the spec drops every size-1 dim
          val axes = node.attrs.get("axes").map(_.ints).filter(_.nonEmpty)
            .orElse(if (node.ins.length > 1 && node.ins(1).nonEmpty)
              Some(get(node.ins(1)).data.map(_.toLong).toSeq) else None)
          val drop: Set[Int] = axes match {
            case Some(ax) =>
              val norm = ax.map(x => if (x < 0) x + a.rank else x)
              norm.foreach(x => require(x >= 0 && x < a.rank &&
                a.dims(x.toInt) == 1, s"Squeeze: axis $x of [${
                  a.dims.mkString(",")}] is not 1"))
              norm.map(_.toInt).toSet
            case None => a.dims.indices.filter(a.dims(_) == 1).toSet
          }
          val dims = a.dims.indices.filterNot(drop).map(a.dims).toArray
          Seq(Tensor(dims, a.data))
        case "Range" => // torch.arange: three 0-d/1-elem inputs
          val (st, li, de) = (get(node.ins(0)).data, get(node.ins(1)).data,
            get(node.ins(2)).data)
          require(st.length == 1 && li.length == 1 && de.length == 1,
            "Range: start/limit/delta must be scalars")
          require(de(0) != 0.0, "Range: delta 0")
          val n = math.max(math.ceil((li(0) - st(0)) / de(0)), 0.0).toInt
          Seq(Tensor(Array(n), Array.tabulate(n)(i => st(0) + i * de(0))))
        case "CumSum" =>
          // inclusive forward scan (the RoBERTa position-id shape);
          // exclusive/reverse variants fail loudly until a real export
          // needs them
          require(!node.attrs.get("exclusive").exists(_.i == 1L) &&
            !node.attrs.get("reverse").exists(_.i == 1L),
            "CumSum: only exclusive=0, reverse=0 supported")
          val a = get(node.ins(0))
          val ax0 = get(node.ins(1)).data.headOption.getOrElse(0.0).toInt
          val ax = if (ax0 < 0) a.rank + ax0 else ax0
          require(ax >= 0 && ax < a.rank, s"CumSum axis $ax0")
          val st = strides(a.dims)
          val r = a.data.clone()
          val n = a.dims(ax); val step = st(ax)
          // sum along the axis for every (outer, inner) lane; order is
          // index-ascending, matching an unrolled replay
          val outer = a.dims.take(ax).product
          val inner = step
          var o = 0
          while (o < outer) {
            var in = 0
            while (in < inner) {
              val base = o * n * step + in
              var k = 1
              while (k < n) {
                r(base + k * step) += r(base + (k - 1) * step); k += 1
              }
              in += 1
            }
            o += 1
          }
          Seq(Tensor(a.dims, r))
        case "Slice" =>
          val a = get(node.ins(0))
          val starts = get(node.ins(1)).data.map(_.toLong).toSeq
          val ends = get(node.ins(2)).data.map(_.toLong).toSeq
          val axes = if (node.ins.length > 3 && node.ins(3).nonEmpty)
            get(node.ins(3)).data.map(_.toLong).toSeq
          else starts.indices.map(_.toLong)
          if (node.ins.length > 4 && node.ins(4).nonEmpty)
            require(get(node.ins(4)).data.forall(_ == 1.0),
              "Slice: only unit steps are supported")
          Seq(slice(a, starts, ends, axes))
        case "Split" =>
          val a = get(node.ins(0))
          val ax = node.attrs.get("axis").map(_.i).getOrElse(0L)
          require(ax == -1L || ax == a.rank - 1,
            s"Split: only the last axis is supported, got $ax")
          val sizes: Seq[Int] =
            node.attrs.get("split").map(_.ints).filter(_.nonEmpty)
              .orElse(if (node.ins.length > 1 && node.ins(1).nonEmpty)
                Some(get(node.ins(1)).data.map(_.toLong).toSeq) else None)
              .map(_.map(_.toInt))
              .getOrElse {
                val lane = a.dims(a.rank - 1)
                require(lane % node.outs.length == 0,
                  s"Split: lane $lane not divisible into ${node.outs.length}")
                Seq.fill(node.outs.length)(lane / node.outs.length)
              }
          require(sizes.length == node.outs.length,
            s"Split: ${sizes.length} sizes for ${node.outs.length} outputs")
          splitLast(a, sizes)
        case "Reshape" =>
          val a = get(node.ins(0))
          val spec = get(node.ins(1)).data.map(_.toLong)
          val fixed = spec.filter(_ > 0).product
          val dims = spec.map { s =>
            if (s > 0) s.toInt
            else (a.data.length / math.max(fixed, 1L)).toInt // the one -1
          }
          require(dims.product == a.data.length,
            s"Reshape ${spec.mkString(",")} on ${a.data.length} values")
          Seq(Tensor(dims, a.data))
        case "Transpose" =>
          Seq(transpose(get(node.ins(0)), attr("perm").ints.map(_.toInt).toArray))
        case "Softmax" =>
          val a = get(node.ins(0))
          val ax = node.attrs.get("axis").map(_.i).getOrElse(-1L)
          require(ax == -1L || ax == a.rank - 1,
            s"Softmax: only the last axis is supported, got $ax")
          Seq(softmaxLast(a))
        case "Concat" =>
          val ts = node.ins.map(get)
          val ax = attr("axis").i
          require(ax == -1L || ax == ts.head.rank - 1,
            s"Concat: only the last axis is supported, got $ax")
          Seq(concatLast(ts))
        case "LayerNormalization" =>
          val ax = node.attrs.get("axis").map(_.i).getOrElse(-1L)
          val x = get(node.ins(0))
          require(ax == -1L || ax == x.rank - 1,
            s"LayerNormalization: only the last axis is supported, got $ax")
          val eps = node.attrs.get("epsilon").map(_.f.toDouble).getOrElse(1e-5)
          Seq(layerNorm(x, get(node.ins(1)), get(node.ins(2)), eps))
        case "ReduceMean" | "ReduceSum" =>
          // keepdims DEFAULTS to 1 per the ONNX spec — a torch-exported
          // model omitting the attribute must keep the reduced axis
          val keep = node.attrs.get("keepdims").forall(_.i == 1L)
          val axes = axesAttrOrInput("axes", 1)
          require(axes.length == 1, s"${node.op}: exactly one axis")
          Seq(reduce(get(node.ins(0)), axes.head.toInt, keep,
            mean = node.op == "ReduceMean"))
        case "Sigmoid" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(z => 1.0 / (1.0 + math.exp(-z)))))
        case "Relu" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(z => if (z > 0) z else 0.0)))
        case "Tanh" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(math.tanh)))
        case "Erf" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(erf)))
        case "Neg" =>
          val a = get(node.ins(0))
          Seq(Tensor(a.dims, a.data.map(z => -z)))
        case "Gelu" =>
          // fused op (opset ≥20 / newer torch exports) — the same two
          // formulas the decomposed chains execute: exact
          // 0.5·z·(1+erf(z/√2)) or approximate='tanh'
          val a = get(node.ins(0))
          val approx = node.attrs.get("approximate").map(_.s)
            .filter(_.nonEmpty).getOrElse("none")
          val f: Double => Double = approx match {
            case "none" => z => 0.5 * z * (1.0 + erf(z / 1.4142135623730951))
            case "tanh" => z => 0.5 * z * (1.0 +
              math.tanh(0.7978845608028654 * (z + 0.044715 * z * z * z)))
            case other => throw new UnsupportedOperationException(
              s"Gelu: approximate='$other'")
          }
          Seq(Tensor(a.dims, a.data.map(f)))
        // ---- the shape/constant plumbing ops a real torch.onnx.export
        // emits around the compute graph (dynamic-batch handling, mask
        // construction, inference-mode leftovers) --------------------
        case "Identity" => Seq(get(node.ins(0)))
        case "Dropout" =>
          // inference mode: data passes through; the optional mask output
          // is all-ones (nothing dropped). A training_mode input set true
          // is a misuse of an inference session — fail loudly.
          if (node.ins.length > 2 && node.ins(2).nonEmpty)
            require(get(node.ins(2)).data.forall(_ == 0.0),
              "Dropout: training_mode=true in an inference session")
          val a = get(node.ins(0))
          if (node.outs.length > 1)
            Seq(a, Tensor(a.dims, Array.fill(a.data.length)(1.0)))
          else Seq(a)
        case "Shape" => // runtime dims as a 1-D int64 tensor, with the
          // opset-15 optional start/end slice of the dim list
          val a = get(node.ins(0))
          val st0 = node.attrs.get("start").map(_.i.toInt).getOrElse(0)
          val en0 = node.attrs.get("end").map(_.i.toInt).getOrElse(a.rank)
          val st = math.max(0, if (st0 < 0) a.rank + st0 else st0)
          val en = math.min(a.rank, if (en0 < 0) a.rank + en0 else en0)
          val dims = a.dims.slice(st, en)
          Seq(Tensor(Array(dims.length), dims.map(_.toDouble)))
        case "Equal" =>
          Seq(bcast("Equal", get(node.ins(0)), get(node.ins(1)),
            (x, y) => if (x == y) 1.0 else 0.0))
        case "Less" =>
          Seq(bcast("Less", get(node.ins(0)), get(node.ins(1)),
            (x, y) => if (x < y) 1.0 else 0.0))
        case "Greater" =>
          Seq(bcast("Greater", get(node.ins(0)), get(node.ins(1)),
            (x, y) => if (x > y) 1.0 else 0.0))
        case "Where" =>
          Seq(where3(get(node.ins(0)), get(node.ins(1)), get(node.ins(2))))
        case "Expand" => // bidirectional numpy broadcast of the input to
          // the target shape (a target dim of 1 keeps the input dim)
          val a = get(node.ins(0))
          val shape = get(node.ins(1)).data.map(_.toInt)
          Seq(bcast("Expand", a,
            Tensor(shape, new Array[Double](math.max(shape.product, 0))),
            (x, _) => x))
        case "ConstantOfShape" =>
          val shape = get(node.ins(0)).data.map(_.toInt)
          val v = node.attrs.get("value").flatMap(_.t)
            .map(_.data.headOption.getOrElse(0.0)).getOrElse(0.0)
          Seq(Tensor(shape, Array.fill(math.max(shape.product, 0))(v)))
        case "Constant" =>
          // exporters emit the tensor 'value' form OR the scalar
          // value_float / value_int / value_ints shorthands — accept all
          // four (scalars become 0-d tensors, ints a 1-D tensor)
          Seq(node.attrs.get("value").flatMap(_.t)
            .orElse(node.attrs.get("value_float").map(a =>
              Tensor(Array.empty[Int], Array(a.f.toDouble))))
            .orElse(node.attrs.get("value_int").map(a =>
              Tensor(Array.empty[Int], Array(a.i.toDouble))))
            .orElse(node.attrs.get("value_ints").map(a =>
              Tensor(Array(a.ints.length), a.ints.map(_.toDouble).toArray)))
            .getOrElse(throw new UnsupportedOperationException(
              "Constant: unsupported attribute form (need value, " +
                "value_float, value_int, or value_ints)")))
        case op => throw new UnsupportedOperationException(s"op '$op'")
      }
      if (profiling) {
        // GRAFT_ONNX_PROFILE=2 keys by node (op:first-output) instead of
        // op type — pinpoints WHICH matmul eats the wall
        val key = if (sys.env.get("GRAFT_ONNX_PROFILE").contains("2"))
          s"${node.op}:${node.outs.head}" else node.op
        // sessions may be shared across tasks (Scorer.sharedSession) —
        // the profile accumulator is the one cross-call mutable besides
        // the synchronized transpose memo
        profAcc.synchronized {
          profAcc(key) = profAcc.getOrElse(key, 0L) +
            (System.nanoTime() - tProf)
        }
      }
      require(outs.length == node.outs.length,
        s"${node.op}: ${outs.length} results for ${node.outs.length} declared outputs")
      node.outs.lazyZip(outs).foreach((n, t) => values += n -> t)
      // release inputs whose last reader just ran (the graph output is
      // pinned — a final node may both consume and re-emit names)
      node.ins.foreach { in =>
        if (in.nonEmpty && in != outputName && lastUse.get(in).contains(nodeIdx))
          values -= in
      }
    }
    values(outputName)
  }
}

object OnnxSession {
  def load(path: String): OnnxSession =
    new OnnxSession(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
}

/** Protobuf wire-format helpers (the subset onnx.proto needs): varint,
  * length-delimited, packed scalar fields. Writer emits proto3-canonical
  * packed repeated scalars; reader accepts packed and unpacked.
  */
private[ml] object Proto {

  // ---- writing ----
  def varint(v: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = v
    while ((x & ~0x7fL) != 0) { out += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
    out += (x & 0x7f).toByte
    out.toArray
  }
  private def tag(field: Int, wire: Int) = varint((field.toLong << 3) | wire)
  def varintField(field: Int, v: Long): Array[Byte] = tag(field, 0) ++ varint(v)
  def fixed32Field(field: Int, bits: Int): Array[Byte] =
    tag(field, 5) ++ Array[Byte](bits.toByte, (bits >> 8).toByte,
      (bits >> 16).toByte, (bits >> 24).toByte)
  def lenDelim(field: Int, bytes: Array[Byte]): Array[Byte] =
    tag(field, 2) ++ varint(bytes.length.toLong) ++ bytes
  def stringField(field: Int, s: String): Array[Byte] = lenDelim(field, s.getBytes("UTF-8"))
  def packedVarints(vs: Seq[Long]): Array[Byte] = vs.toArray.flatMap(varint)
  def packedDoubles(vs: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vs.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putDouble); bb.array()
  }
  /** float32 little-endian raw_data payload (torch-export layout). */
  def rawFloats(vs: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vs.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vs.foreach(v => bb.putFloat(v.toFloat)); bb.array()
  }
  def concat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray

  // ---- reading ----
  sealed trait Value
  final case class VarintV(v: Long) extends Value
  final case class BytesV(b: Array[Byte]) extends Value
  final case class Fixed64V(v: Long) extends Value
  final case class Fixed32V(v: Int) extends Value
  type Message = Map[Int, Seq[Value]]

  def parse(bytes: Array[Byte]): Message = {
    val out = scala.collection.mutable.Map.empty[Int, Vector[Value]]
    var i = 0
    def readVarint(): Long = {
      var shift = 0; var v = 0L
      var more = true
      while (more) {
        // explicit bound: a varint running off the buffer end must surface
        // as not-a-ModelProto, not an ArrayIndexOutOfBoundsException —
        // malformed bytes can be length-consistent at the OUTER framing
        // while a nested message ends mid-varint
        if (i >= bytes.length)
          throw new IllegalArgumentException(s"truncated varint at offset $i")
        if (shift > 63)
          throw new IllegalArgumentException(s"varint overflow at offset $i")
        val b = bytes(i); i += 1; v |= (b & 0x7fL) << shift; shift += 7
        more = (b & 0x80) != 0
      }
      v
    }
    while (i < bytes.length) {
      val key = readVarint()
      val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
      val value: Value = wire match {
        case 0 => VarintV(readVarint())
        case 1 =>
          if (i + 8 > bytes.length)
            throw new IllegalArgumentException(s"truncated fixed64 at offset $i")
          val v = java.nio.ByteBuffer.wrap(bytes, i, 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
          i += 8; Fixed64V(v)
        case 2 =>
          val len = readVarint().toInt
          // copyOfRange would silently zero-PAD past the end — a truncated
          // model must fail at load, not score every row as sigmoid(0)
          if (len < 0 || i + len > bytes.length)
            throw new IllegalArgumentException(
              s"truncated length-delimited field: $len bytes at offset $i of ${bytes.length}")
          val b = java.util.Arrays.copyOfRange(bytes, i, i + len)
          i += len; BytesV(b)
        case 5 =>
          if (i + 4 > bytes.length)
            throw new IllegalArgumentException(s"truncated fixed32 at offset $i")
          val v = java.nio.ByteBuffer.wrap(bytes, i, 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          i += 4; Fixed32V(v)
        case w => throw new IllegalArgumentException(s"wire type $w")
      }
      out(field) = out.getOrElse(field, Vector.empty) :+ value
    }
    out.toMap
  }

  def allBytes(m: Message, field: Int): Seq[Array[Byte]] =
    m.getOrElse(field, Nil).collect { case BytesV(b) => b }
  def bytesAt(m: Message, field: Int): Array[Byte] =
    allBytes(m, field).headOption.getOrElse(Array.empty)
  def stringAt(m: Message, field: Int): String =
    new String(bytesAt(m, field), "UTF-8")
  def varintAt(m: Message, field: Int): Long =
    m.getOrElse(field, Nil).collectFirst { case VarintV(v) => v }.getOrElse(0L)
  /** Packed or unpacked repeated varints. */
  def packedVarintsAt(m: Message, field: Int): Seq[Long] =
    m.getOrElse(field, Nil).flatMap {
      case VarintV(v) => Seq(v)
      case BytesV(b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Long]
        var i = 0
        while (i < b.length) {
          var shift = 0; var v = 0L
          var more = true
          while (more) {
            if (i >= b.length) throw new IllegalArgumentException(
              "truncated packed varint")
            if (shift > 63) throw new IllegalArgumentException(
              "packed varint overflow") // same guard as readVarint: a
            // shift ≥ 64 wraps mod 64 and folds high bytes into low bits
            val x = b(i); i += 1; v |= (x & 0x7fL) << shift; shift += 7
            more = (x & 0x80) != 0
          }
          out += v
        }
        out.toSeq
      case _ => Nil
    }
  /** Packed repeated doubles (or unpacked fixed64s). */
  def packedDoublesAt(m: Message, field: Int): Array[Double] =
    m.getOrElse(field, Nil).flatMap {
      case BytesV(b) =>
        val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.fill(b.length / 8)(bb.getDouble).toSeq
      case Fixed64V(v) => Seq(java.lang.Double.longBitsToDouble(v))
      case _ => Nil
    }.toArray
  /** Packed repeated float32s (or unpacked fixed32s) — TensorProto
    * `float_data` (field 4), widened to double for the session. */
  def packedFloatsAt(m: Message, field: Int): Array[Double] =
    m.getOrElse(field, Nil).flatMap {
      case BytesV(b) =>
        val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        Array.fill(b.length / 4)(bb.getFloat.toDouble).toSeq
      case Fixed32V(v) => Seq(java.lang.Float.intBitsToFloat(v).toDouble)
      case _ => Nil
    }.toArray
  /** TensorProto `raw_data` (field 9) decoded by element dtype: the
    * little-endian byte layout torch exports use for every tensor. */
  def rawDataAt(m: Message, dtype: Long): Option[Array[Double]] = {
    val b = bytesAt(m, 9)
    if (b.isEmpty) None
    else {
      val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      dtype match {
        case 1  => // FLOAT
          require(b.length % 4 == 0, s"raw_data ${b.length} bytes not float32-aligned")
          Some(Array.fill(b.length / 4)(bb.getFloat.toDouble))
        case 11 => // DOUBLE
          require(b.length % 8 == 0, s"raw_data ${b.length} bytes not float64-aligned")
          Some(Array.fill(b.length / 8)(bb.getDouble))
        case 7  => // INT64 — small ids/shapes, lossless in double
          require(b.length % 8 == 0, s"raw_data ${b.length} bytes not int64-aligned")
          Some(Array.fill(b.length / 8)(bb.getLong.toDouble))
        case 9  => // BOOL — torch serializes bool tensors as raw_data at
          // ONE byte per element (the attention-mask Equal/Cast/Where
          // constants); nonzero → 1.0, zero → 0.0
          Some(b.map(x => if (x != 0) 1.0 else 0.0))
        case other => throw new IllegalArgumentException(
          s"raw_data for unsupported data_type $other")
      }
    }
  }
}
