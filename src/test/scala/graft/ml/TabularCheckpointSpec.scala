package graft.ml

import graft.SparkSpec
import graft.queries.EncoderQueries

/** Pins the realistic-checkpoint path (float32 tensors, Gather/Cast/
  * Slice/Split/Unsqueeze, additive attention mask, decomposed LayerNorm,
  * masked mean pool) through the exported ONNX file: the expected values
  * come from an INDEPENDENT forward pass written here with plain nested
  * loops over the closed-form weight formulas — no shared code with the
  * exporter's graph assembly or the session kernels.
  */
class TabularCheckpointSpec extends SparkSpec {

  import EncoderQueries._
  private val dh = TbD / TbH

  /** Independent forward for one sequence: 6-way embedding sum + LN,
    * TbL encoder blocks with additive key mask, masked mean pool. */
  private def refForward(ids: Array[Long], types: Array[Long],
                         tokpos: Array[Int], mask: Array[Double]): Array[Double] = {
    def ln(x: Array[Array[Double]], g: Int => Double, b: Int => Double) =
      x.map { row =>
        val m = row.sum / row.length
        val va = row.map(e => (e - m) * (e - m)).sum / row.length
        row.indices.map(j => ((row(j) - m) / math.sqrt(va + TbEps)) * g(j) + b(j)).toArray
      }
    val x0 = Array.tabulate(TbS, TbD) { (i, dd) =>
      tbWordE(ids(i), dd) + tbTypeE(types(i), dd) + tbTokposE(tokpos(i), dd) +
        tbPosE(i, dd) +
        ((0 until TbD).map(e => tbVal(ids(i), e) * tbWVal(e, dd)).sum + tbBVal(dd)) +
        ((0 until TbM).map(j => tbMh(ids(i), i, j) * tbWMin(j, dd)).sum + tbBMin(dd))
    }
    var x = ln(x0, tbGEmb, tbBEmb)
    for (l <- 0 until TbL) {
      val heads = (0 until TbH).map { h =>
        def proj(block: Int) = Array.tabulate(TbS, dh)((i, e) =>
          (0 until TbD).map(dd => x(i)(dd) * tbWqkv(l, dd, block * TbD + h * dh + e)).sum +
            tbBqkv(l, block * TbD + h * dh + e))
        val q = proj(0); val k = proj(1); val v = proj(2)
        val soft = Array.tabulate(TbS) { i =>
          val row = Array.tabulate(TbS)(j =>
            (0 until dh).map(e => q(i)(e) * k(j)(e)).sum * TbScale +
              (mask(j) - 1.0) * 10000.0)
          val m = row.max
          val es = row.map(z => math.exp(z - m))
          val sm = es.sum
          es.map(_ / sm)
        }
        Array.tabulate(TbS, dh)((i, e) => (0 until TbS).map(j => soft(i)(j) * v(j)(e)).sum)
      }
      val ctx = Array.tabulate(TbS, TbD)((i, c) => heads(c / dh)(i)(c % dh))
      val r1 = Array.tabulate(TbS, TbD)((i, dd) =>
        (0 until TbD).map(c => ctx(i)(c) * teWoL(l, c, dd)).sum + teBoL(l, dd) + x(i)(dd))
      val l1 = ln(r1, teG1L(l, _), teB1L(l, _))
      val f2 = Array.tabulate(TbS, TbF)((i, fi) => 1.0 / (1.0 + math.exp(-(
        (0 until TbD).map(dd => l1(i)(dd) * teW1L(l, dd, fi)).sum + teBf1L(l, fi)))))
      val r2 = Array.tabulate(TbS, TbD)((i, dd) =>
        (0 until TbF).map(fi => f2(i)(fi) * teW2L(l, fi, dd)).sum + teBf2L(l, dd) + l1(i)(dd))
      x = ln(r2, teG2L(l, _), teB2L(l, _))
    }
    val cnt = mask.sum
    Array.tabulate(TbD)(dd => (0 until TbS).map(i => x(i)(dd) * mask(i)).sum / cnt)
  }

  private def inputsFor(rows: Seq[(Array[Long], Array[Long], Array[Int], Array[Double])]) = Map(
    "input_ids" -> rows.map(_._1.map(_.toDouble)).toArray,
    "type_ids" -> rows.map(_._2.map(_.toDouble)).toArray,
    "tokpos_ids" -> rows.map(_._3.map(_.toDouble)).toArray,
    "attention_mask" -> rows.map(_._4).toArray,
    "value_vals" -> rows.map { case (ids, _, _, _) =>
      (for (i <- 0 until TbS; e <- 0 until TbD) yield tbVal(ids(i), e)).toArray }.toArray,
    "minhash_vals" -> rows.map { case (ids, _, _, _) =>
      (for (i <- 0 until TbS; j <- 0 until TbM) yield tbMh(ids(i), i, j)).toArray }.toArray)

  private val fixtureRows: Seq[(Array[Long], Array[Long], Array[Int], Array[Double])] = Seq(
    (Array(2L, 17L, 45L, 9L, 3L, 0L), Array.fill(TbS)(1L),
      Array.tabulate(TbS)(_ % TbP), Array(1.0, 1.0, 1.0, 1.0, 1.0, 0.0)),
    (Array(2L, 5L, 3L, 0L, 0L, 0L), Array.fill(TbS)(0L),
      Array.tabulate(TbS)(_ % TbP), Array(1.0, 1.0, 1.0, 0.0, 0.0, 0.0)),
    (Array(2L, 100L, 7L, 64L, 21L, 3L), Array.fill(TbS)(2L),
      Array.tabulate(TbS)(_ % TbP), Array.fill(TbS)(1.0)),
    (Array(2L, 119L, 1L, 1L, 8L, 3L), Array.fill(TbS)(3L),
      Array.tabulate(TbS)(_ % TbP), Array.fill(TbS)(1.0)),
    (Array(2L, 40L, 41L, 42L, 43L, 3L), Array.fill(TbS)(1L),
      Array.tabulate(TbS)(_ % TbP), Array(1.0, 1.0, 0.0, 0.0, 0.0, 0.0)))

  test("float32 checkpoint executes; matches an independent forward pass") {
    val path = java.nio.file.Files.createTempDirectory("tbckpt")
      .resolve("ckpt.onnx").toString
    OnnxExport.exportTabularCheckpoint(tbCheckpoint, path)
    val session = OnnxSession.load(path)
    assert(session.inputNames === Seq("input_ids", "type_ids", "tokpos_ids",
      "attention_mask", "value_vals", "minhash_vals"))
    val out = session.runMulti(inputsFor(fixtureRows))
    assert(out.length == fixtureRows.length)
    fixtureRows.zipWithIndex.foreach { case ((ids, ty, tp, mk), r) =>
      val exp = refForward(ids, ty, tp, mk)
      (0 until TbD).foreach { dd =>
        assert(math.abs(out(r)(dd) - exp(dd)) < 1e-12,
          s"row $r dim $dd: ${out(r)(dd)} vs ${exp(dd)}")
      }
    }
  }

  test("the attention mask is live: padding changes the pooled state") {
    val path = java.nio.file.Files.createTempDirectory("tbckpt")
      .resolve("ckpt.onnx").toString
    OnnxExport.exportTabularCheckpoint(tbCheckpoint, path)
    val session = OnnxSession.load(path)
    val ids = Array(2L, 17L, 45L, 9L, 21L, 3L)
    val base = (ids, Array.fill(TbS)(1L), Array.tabulate(TbS)(_ % TbP),
      Array.fill(TbS)(1.0))
    val padded = base.copy(_4 = Array(1.0, 1.0, 1.0, 1.0, 0.0, 0.0))
    val out = session.runMulti(inputsFor(Seq(base, padded)))
    assert((0 until TbD).exists(dd => math.abs(out(0)(dd) - out(1)(dd)) > 1e-6),
      "masking two positions must change the pooled embedding")
  }

  test("float32 export rejects non-float32-exact weights") {
    val w = tbCheckpoint
    val bad = w.copy(gEmb = w.gEmb.updated(0, 0.1)) // 0.1 has no exact float32
    val path = java.nio.file.Files.createTempDirectory("tbckpt")
      .resolve("bad.onnx").toString
    val e = intercept[IllegalArgumentException] {
      OnnxExport.exportTabularCheckpoint(bad, path)
    }
    assert(e.getMessage.contains("float32-exact"))
  }

  test("unbound and ragged multi-input batches fail loudly") {
    val path = java.nio.file.Files.createTempDirectory("tbckpt")
      .resolve("ckpt.onnx").toString
    OnnxExport.exportTabularCheckpoint(tbCheckpoint, path)
    val session = OnnxSession.load(path)
    val full = inputsFor(fixtureRows.take(2))
    intercept[IllegalArgumentException] { session.runMulti(full - "type_ids") }
    intercept[IllegalArgumentException] {
      session.runMulti(full.updated("type_ids",
        full("type_ids").take(1))) // 1 row vs 2 elsewhere
    }
  }
}
