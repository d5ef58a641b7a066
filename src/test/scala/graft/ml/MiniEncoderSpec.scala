package graft.ml

import graft.SparkSpec
import graft.queries.EncoderQueries

/** Pins the rank-general OnnxSession ops through the exported
  * mini-encoder: the expected values come from an INDEPENDENT forward
  * pass written here with plain nested loops (no shared code with the
  * session kernels), so a wire-format, attribute-parse, or kernel bug
  * breaks the compare.
  */
class MiniEncoderSpec extends SparkSpec {

  private val (s_, d_, h_, f_) = (EncoderQueries.TeS, EncoderQueries.TeD, EncoderQueries.TeH, EncoderQueries.TeF)
  private val dh = d_ / h_

  private def layer(l: Int): OnnxExport.EncoderLayer = EncoderQueries.teLayer(l)

  private def stack(n: Int): OnnxExport.EncoderStack = OnnxExport.EncoderStack(
    s_, d_, h_, f_, (0 until n).map(layer),
    wHead = Array.tabulate(d_)(EncoderQueries.teWh), bHead = EncoderQueries.TeBh,
    attScale = EncoderQueries.TeScale, lnEps = EncoderQueries.TeEps)

  private def weights = stack(1)

  /** Independent reference: one encoder BLOCK with plain nested loops. */
  private def refBlock(x: Array[Array[Double]], lw: OnnxExport.EncoderLayer,
                       eps: Double, scale: Double): Array[Array[Double]] = {
    def mm(a: Array[Array[Double]], b: Array[Array[Double]]) =
      Array.tabulate(a.length, b(0).length)((i, j) =>
        (0 until b.length).foldLeft(0.0)((acc, k) => acc + a(i)(k) * b(k)(j)))
    def ln(v: Array[Array[Double]], g: Array[Double], b: Array[Double]) =
      v.map { row =>
        val m = row.sum / row.length
        val va = row.map(e => (e - m) * (e - m)).sum / row.length
        row.indices.map(j => ((row(j) - m) / math.sqrt(va + eps)) * g(j) + b(j)).toArray
      }
    val heads = (0 until h_).map { hi =>
      val q = mm(x, lw.wq(hi)); val k = mm(x, lw.wk(hi)); val v = mm(x, lw.wv(hi))
      val att = Array.tabulate(s_, s_)((i, j) =>
        (0 until dh).map(e => q(i)(e) * k(j)(e)).sum * scale)
      val soft = att.map { row =>
        val m = row.max
        val es = row.map(z => math.exp(z - m))
        val sm = es.sum
        es.map(_ / sm)
      }
      Array.tabulate(s_, dh)((i, e) => (0 until s_).map(j => soft(i)(j) * v(j)(e)).sum)
    }
    val ctx = Array.tabulate(s_, d_)((i, c) => heads(c / dh)(i)(c % dh))
    val pj = mm(ctx, lw.tail.wo).zipWithIndex.map { case (row, i) =>
      row.indices.map(j => row(j) + lw.tail.bo(j) + x(i)(j)).toArray }
    val l1 = ln(pj, lw.tail.g1, lw.tail.b1)
    val ff = mm(l1, lw.tail.w1).map(row => row.indices.map(j =>
      1.0 / (1.0 + math.exp(-(row(j) + lw.tail.bf1(j))))).toArray)
    val r2 = mm(ff, lw.tail.w2).zipWithIndex.map { case (row, i) =>
      row.indices.map(j => row(j) + lw.tail.bf2(j) + l1(i)(j)).toArray }
    ln(r2, lw.tail.g2, lw.tail.b2)
  }

  /** Independent reference forward pass for one [S][D] input. */
  private def reference(x: Array[Array[Double]], w: OnnxExport.EncoderStack): Double = {
    val l2 = refBlock(x, w.layers.head, w.lnEps, w.attScale)
    val pooled = (0 until d_).map(j => (0 until s_).map(i => l2(i)(j)).sum / s_)
    val z = (0 until d_).map(j => pooled(j) * w.wHead(j)).sum + w.bHead
    1.0 / (1.0 + math.exp(-z))
  }

  test("session executes the exported encoder graph; matches an independent forward pass") {
    val path = "/tmp/graft_fixtures/spec_mini_encoder.onnx"
    OnnxExport.exportEncoderStack(weights, path)
    val session = OnnxSession.load(path)
    val batch = (1 to EncoderQueries.TeN).map { n =>
      Array.tabulate(s_ * d_) { k =>
        ((n * 13 + (k / d_) * 7 + (k % d_) * 3) % 17) * 0.125 - 1.0
      }
    }.toArray
    val got = session.run(batch)
    val want = batch.map(flat =>
      reference(Array.tabulate(s_, d_)((i, j) => flat(i * d_ + j)), weights))
    got.lazyZip(want).foreach { (g, e) =>
      // the reference uses different (collection) summation orders on
      // purpose — agreement is to FP-accumulation tolerance, not bits
      assert(math.abs(g - e) < 1e-12, s"got $g want $e")
    }
    // scores must be non-degenerate (not all equal) for the fixture to
    // actually exercise attention mixing
    assert(got.distinct.length > EncoderQueries.TeN / 2)
  }

  test("a 3-layer stacked export executes and matches three chained reference blocks") {
    val path = "/tmp/graft_fixtures/spec_encoder_stack.onnx"
    val st = stack(3)
    OnnxExport.exportEncoderStack(st, path)
    val session = OnnxSession.load(path)
    val batch = (1 to 6).map { n =>
      Array.tabulate(s_ * d_) { k =>
        ((n * 13 + (k / d_) * 7 + (k % d_) * 3) % 17) * 0.125 - 1.0
      }
    }.toArray
    val got = session.run(batch)
    val want = batch.map { flat =>
      var x = Array.tabulate(s_, d_)((i, j) => flat(i * d_ + j))
      st.layers.foreach { lw => x = refBlock(x, lw, st.lnEps, st.attScale) }
      val pooled = (0 until d_).map(j => (0 until s_).map(i => x(i)(j)).sum / s_)
      val z = (0 until d_).map(j => pooled(j) * st.wHead(j)).sum + st.bHead
      1.0 / (1.0 + math.exp(-z))
    }
    got.lazyZip(want).foreach { (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"got $g want $e")
    }
    // depth must actually matter: 3 layers != 1 layer on the same inputs
    val p1 = "/tmp/graft_fixtures/spec_encoder_stack1.onnx"
    OnnxExport.exportEncoderStack(stack(1), p1)
    val one = OnnxSession.load(p1).run(batch)
    assert(got.toSeq != one.toSeq)
  }

  test("feature metadata carries the flattened position-major column order") {
    val path = "/tmp/graft_fixtures/spec_mini_encoder.onnx"
    OnnxExport.exportEncoderStack(weights, path)
    val session = OnnxSession.load(path)
    assert(session.features ==
      (for (i <- 0 until s_; j <- 0 until d_) yield s"x_${i}_$j"))
  }

  test("Tanh and Erf nodes execute in the session (known values)") {
    import Proto._
    // hand-assemble a features → Tanh → Erf → out model at the wire level
    // (the writer helpers are package-private; this is the same public
    // onnx.proto framing the exporters emit)
    def node(op: String, in: String, out: String) =
      concat(stringField(1, in), stringField(2, out), stringField(4, op))
    def vi(name: String) = concat(stringField(1, name),
      lenDelim(2, lenDelim(1, concat(varintField(1, 11L),
        lenDelim(2, lenDelim(1, varintField(1, 1L)))))))
    val graph = concat(
      lenDelim(1, node("Tanh", "features", "t0")),
      lenDelim(1, node("Erf", "t0", "out")),
      stringField(2, "spec_tanh_erf"),
      lenDelim(11, vi("features")), lenDelim(12, vi("out")))
    val model = concat(varintField(1, 8L), stringField(2, "graft"),
      lenDelim(7, graph), lenDelim(8, varintField(2, 13L)))
    val session = new OnnxSession(model)
    val got = session.run(Array(Array(0.0), Array(1.0), Array(-1.0)))
    assert(math.abs(got(0)) < 1.5e-7) // erf(tanh(0)) ≈ 0 within A&S error
    // erf(tanh(1)) = erf(0.7615942...) = 0.7185451...; A&S 7.1.26 is 1.5e-7
    assert(math.abs(got(1) - 0.7185451) < 1e-5)
    assert(math.abs(got(1) + got(2)) < 1e-12) // odd symmetry
  }

  test("Gemm executes with transB, alpha/beta, and C bias (torch linear-layer shape)") {
    import Proto._
    // out = 0.5·(features · Wᵀ) + 2·c, W [2,3] stored transposed, c [2]
    def attrI(name: String, v: Long) =
      concat(stringField(1, name), varintField(20, 2L), varintField(3, v))
    def attrF(name: String, v: Float) =
      concat(stringField(1, name), varintField(20, 1L),
        fixed32Field(2, java.lang.Float.floatToIntBits(v)))
    val node = concat(stringField(1, "features"), stringField(1, "w"),
      stringField(1, "c"), stringField(2, "out"), stringField(4, "Gemm"),
      lenDelim(5, attrI("transB", 1L)), lenDelim(5, attrF("alpha", 0.5f)),
      lenDelim(5, attrF("beta", 2.0f)))
    def tens(name: String, dims: Seq[Long], d: Array[Double]) =
      concat(lenDelim(1, packedVarints(dims)), varintField(2, 11L),
        lenDelim(10, packedDoubles(d)), stringField(8, name))
    def vi(name: String, w: Long) = concat(stringField(1, name),
      lenDelim(2, lenDelim(1, concat(varintField(1, 11L),
        lenDelim(2, lenDelim(1, varintField(1, w)))))))
    val graph = concat(
      lenDelim(1, node), stringField(2, "spec_gemm"),
      lenDelim(5, tens("w", Seq(2L, 3L), Array(1, 2, 3, 4, 5, 6))),
      lenDelim(5, tens("c", Seq(2L), Array(10, 20))),
      lenDelim(11, vi("features", 3L)), lenDelim(12, vi("out", 2L)))
    val model = concat(varintField(1, 8L), stringField(2, "graft"),
      lenDelim(7, graph), lenDelim(8, varintField(2, 13L)))
    val got = new OnnxSession(model).runMatrix(Array(Array(1.0, 1.0, 1.0)))
    // row·Wᵀ = (1+2+3, 4+5+6) = (6, 15); 0.5·that + 2·c = (23, 47.5)
    assert(got(0).toSeq == Seq(23.0, 47.5))
  }
}
