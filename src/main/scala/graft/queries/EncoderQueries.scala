package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Shared._

/** In-engine model inference: ONNX heads and transformer encoders
  * exported here, run by the engine, and recomputed layer by layer in
  * DuckDB from the same weight functions. */
object EncoderQueries {

  /** Layer `l`'s [[graft.ml.OnnxExport.LayerTail]] from the
    * layer-indexed closed-form formulas, shared by the per-head fixture
    * encoder and the fused-QKV checkpoint. */
  private def layerTail(l: Int, d: Int, f: Int): graft.ml.OnnxExport.LayerTail =
    graft.ml.OnnxExport.LayerTail(
      wo = Array.tabulate(d, d)(teWoL(l, _, _)),
      bo = Array.tabulate(d)(teBoL(l, _)),
      g1 = Array.tabulate(d)(teG1L(l, _)),
      b1 = Array.tabulate(d)(teB1L(l, _)),
      w1 = Array.tabulate(d, f)(teW1L(l, _, _)),
      bf1 = Array.tabulate(f)(teBf1L(l, _)),
      w2 = Array.tabulate(f, d)(teW2L(l, _, _)),
      bf2 = Array.tabulate(d)(teBf2L(l, _)),
      g2 = Array.tabulate(d)(teG2L(l, _)),
      b2 = Array.tabulate(d)(teB2L(l, _)))

  /** One fixture encoder layer from the layer-indexed
    * closed-form formulas (layer 0 == the original 1-layer fixture). */
  private[graft] def teLayer(l: Int): graft.ml.OnnxExport.EncoderLayer = {
    val (d, h, f) = (TeD, TeH, TeF)
    val dh = d / h
    graft.ml.OnnxExport.EncoderLayer(
      wq = Array.tabulate(h, d, dh)(teWqL(l, _, _, _)),
      wk = Array.tabulate(h, d, dh)(teWkL(l, _, _, _)),
      wv = Array.tabulate(h, d, dh)(teWvL(l, _, _, _)),
      tail = layerTail(l, d, f))
  }

  private def teStack(layers: Int): graft.ml.OnnxExport.EncoderStack =
    graft.ml.OnnxExport.EncoderStack(
      TeS, TeD, TeH, TeF,
      (0 until layers).map(teLayer),
      wHead = Array.tabulate(TeD)(teWh),
      bHead = TeBh,
      attScale = TeScale, lnEps = TeEps)

  /** The q7 fixture input batch: (id, x_{s}_{d} …) from the shared
    * closed-form formulas. */
  private def teFeats(s: SparkSession): (DataFrame, Seq[String]) = {
    import s.implicits._
    val (sq, d) = (TeS, TeD)
    val featCols = for (si <- 0 until sq; di <- 0 until d) yield s"x_${si}_$di"
    val feats = (1 to TeN).map(_.toLong).toDF("id").select(
      col("id") +: (for (si <- 0 until sq; di <- 0 until d) yield
        (((col("id") * 13 + lit(si * 7 + di * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"x_${si}_$di")): _*)
    (feats, featCols)
  }

  /** (id, score_r): a scorer's output rounded to 6 dp, by id. */
  private def roundedScores(scored: DataFrame): DataFrame =
    scored.select(col("id"), round(col("score"), 6).as("score_r")).orderBy("id")

  /** The q7 fixture batch scored through a `layers`-deep mini-encoder
    * with FFN `activation`, exported to `path` as a real ONNX graph. */
  private def teScore(s: SparkSession, path: String, layers: Int,
      activation: String = "Sigmoid"): DataFrame = {
    graft.ml.OnnxExport.exportEncoderStack(teStack(layers), path, activation = activation)
    val (feats, featCols) = teFeats(s)
    roundedScores(new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(path), featCols).score(feats))
  }

  /** The q6 encoder input over `docs`: each doc's first TeS whitespace
    * tokens hash to ids through the md5-low32 family (mod 64) and look up
    * the closed-form embedding table; `keep` columns ride along. Returns
    * the feature frame and its `x_{s}_{d}` column names. */
  private def teTokenFeats(docs: DataFrame, keep: Seq[String]): (DataFrame, Seq[String]) = {
    val (sq, d) = (TeS, TeD)
    val toks = docs.select(keep.map(col) :+
      filter(split(lower(col("text")), "\\s+"), v => v =!= "").as("w"): _*)
    val tids = toks.select(keep.map(col) ++ (0 until sq).map { si =>
      coalesce(when(size(col("w")) > si,
          graft.functions.SketchFunctions.md5_low32(col("w")(si)) % 64),
        lit(0L)).as(s"tid_$si")
    }: _*)
    val featCols = for (si <- 0 until sq; di <- 0 until d) yield s"x_${si}_$di"
    val feats = tids.select(keep.map(col) ++
      (for (si <- 0 until sq; di <- 0 until d) yield
        (((col(s"tid_$si") * 7 + lit(di * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"x_${si}_$di")): _*)
    (feats, featCols)
  }

  // ---- q7_transformer_score fixture: a 1-layer 2-head toy encoder whose
  // weights AND inputs come from these closed-form exact-binary-fraction
  // formulas, shared with the Spark plan (which exports them as a real ONNX
  // graph and scores through OnnxSession). The oracle below replays the
  // forward pass as fully UNROLLED SQL with the session's exact
  // summation orders, so every double op except libm exp/tanh is
  // bit-identical (the q7_onnx_score sigmoid precedent). ----------------
  private[graft] val TeN = 12  // batch rows

  private[graft] val TeS = 4   // sequence length

  private[graft] val TeD = 4   // model width

  private[graft] val TeH = 2   // heads

  private[graft] val TeF = 8   // FFN width

  private[graft] def teX(s: Int, d: Int): String = // per-id input expr (SQL `i`)
    s"CAST((i * 13 + ${s * 7 + d * 3}) % 17 AS DOUBLE) * 0.125 - 1.0"

  // layer-indexed weight formulas (l = encoder layer); at l = 0 they
  // coincide with the original single-layer fixture, so the existing
  // q7/q6 hashes are layer-0 slices of the same family
  private[graft] def teWqL(l: Int, h: Int, i: Int, j: Int): Double =
    ((l * 13 + h * 5 + i * 3 + j * 7) % 9 - 4) * 0.125

  private[graft] def teWkL(l: Int, h: Int, i: Int, j: Int): Double =
    ((l * 11 + h * 7 + i * 5 + j * 3) % 9 - 4) * 0.125

  private[graft] def teWvL(l: Int, h: Int, i: Int, j: Int): Double =
    ((l * 7 + h * 3 + i * 7 + j * 5) % 9 - 4) * 0.125

  private[graft] def teWoL(l: Int, i: Int, j: Int): Double =
    ((l * 5 + i * 7 + j * 5 + 1) % 9 - 4) * 0.125

  private[graft] def teBoL(l: Int, j: Int): Double = ((l * 3 + j * 5) % 7 - 3) * 0.0625

  private[graft] def teG1L(l: Int, j: Int): Double = 1.0 + ((l + j) % 3 - 1) * 0.125

  private[graft] def teB1L(l: Int, j: Int): Double = ((l * 2 + j * 3) % 5 - 2) * 0.0625

  private[graft] def teW1L(l: Int, i: Int, j: Int): Double =
    ((l * 7 + i * 11 + j * 3) % 9 - 4) * 0.125

  private[graft] def teBf1L(l: Int, j: Int): Double = ((l + j * 3) % 5 - 2) * 0.125

  private[graft] def teW2L(l: Int, i: Int, j: Int): Double =
    ((l * 3 + i * 7 + j * 5 + 2) % 9 - 4) * 0.0625

  private[graft] def teBf2L(l: Int, j: Int): Double = ((l * 2 + j * 7) % 5 - 2) * 0.0625

  private[graft] def teG2L(l: Int, j: Int): Double = 1.0 + ((l + j) % 2 * 2 - 1) * 0.0625

  private[graft] def teB2L(l: Int, j: Int): Double = ((l * 3 + j * 5 + 1) % 7 - 3) * 0.0625

  private[graft] def teWh(j: Int): Double = ((j * 3 + 1) % 5 - 2) * 0.25

  private[graft] val TeBh = 0.125

  private[graft] val TeScale = 0.707107      // round(1/sqrt(dHead), 6)

  private[graft] val TeEps = 0.0009765625    // 2^-10: float32-exact epsilon

  // ---- the realistic tabular-BERT checkpoint fixture (E4 end-to-end:
  // WordPiece ids → 6-way TabularBertEmbeddings sum → 4-layer encoder →
  // masked mean pool → k-NN). Every weight is a small binary fraction —
  // float32-exact, so the FLOAT32 checkpoint file, the session's double
  // execution, and the oracle's SQL literals all see identical values.
  // Layer internals (wo/g1/w1/…) reuse the teW*L layer-indexed family;
  // the fused QKV below arranges the same per-head projections in the
  // torch [Q|K|V] column layout. --------------------------------------
  private[graft] val TbS = 6    // sequence length ([CLS] + 4 body + [SEP])

  private[graft] val TbD = 4    // model width

  private[graft] val TbSnip = 18      // snippet chars tokenized per doc

  private[graft] val TbVocabDocs = 20 // vocab built over doc_id ≤ this

  private[graft] val TbVocabMax = 120 // vocab size (whole words stay whole)

  private[graft] val TbDocs = 32     // encoded corpus: doc_id < this

  // per-token input-vector formulas (functions of the token id/position)
  private[graft] def tbVal(tid: Long, e: Int): Double =
    ((tid * 5 + e * 3) % 13) * 0.125 - 0.75

  private[graft] def tbMh(tid: Long, s: Int, j: Int): Double =
    ((tid * 7 + j * 5 + s) % 11) * 0.25 - 1.25

  /** Shortest round-trip double literal for generated SQL. */
  private def sqlDouble(v: Double): String = {
    val t = v.toString
    if (t.contains('E') || t.contains('e')) s"CAST($t AS DOUBLE)" else t
  }

  /** A parenthesized, left-associated SQL sum of `ts` in order. */
  private def sqlSum(ts: Seq[String]): String = ts.mkString("(", " + ", ")")

  /** Unrolled SQL replay of an encoder stack's forward pass. Generated,
    * not hand-written: every matrix product is a left-associated sum in
    * the session kernels' ascending index order; softmax uses GREATEST +
    * exp(x−max)/Σ; LayerNorm is ((x−mean)/sqrt(var+eps))·g+b with
    * population variance; pooling averages positions ascending.
    *
    * The chain reads a CTE `c0` that provides `id` and `x0_{s}_{d}`; its
    * CTEs are named `<prefix>1, <prefix>2, …`. Each layer l reads `x{l}_*`,
    * emits `L{l}_`-prefixed scratch columns, and writes its LayerNorm
    * output as `x{l+1}_*`; the final CTE `cP` exposes
    * (id, pooled_0..pooled_{D−1}) mean-pooled over the LAST layer.
    * `checkpoint` selects the realistic-checkpoint form: FUSED-QKV biases
    * on q/k/v, the additive attention mask `em_j` on every logit before
    * the softmax max-subtraction, and a MASKED mean pool over `m_0..m_{S−1}`
    * (which `c0` then also provides). Sigmoid is the only FFN activation
    * of that form.
    */
  private def encoderCtes(prefix: String, s_ : Int, d_ : Int, h_ : Int, f_ : Int,
      layers: Int, scale: Double, eps: Double, checkpoint: Boolean,
      activation: String = "sigmoid"): String = {
    val dh = d_ / h_
    def f(v: Double): String = sqlDouble(v)
    def sum(ts: Seq[String]): String = sqlSum(ts)
    val ctes = scala.collection.mutable.ArrayBuffer.empty[String]
    var prev = "c0"
    var n = 0
    def cte(cols: Seq[String]): Unit = {
      n += 1
      ctes += s"$prefix$n AS (SELECT *, ${cols.mkString(", ")} FROM $prev)"
      prev = s"$prefix$n"
    }
    for (l <- 0 until layers) {
      val X = s"x${l}_"
      val P = s"L${l}_"
      val O = s"x${l + 1}_"
      // q/k/v per head: [S,dh] = x[S,D] · W[D,dh], d ascending; the
      // checkpoint adds the fused-QKV bias of the torch Linear layout
      // [Q|K|V], block column (h·dh + e) of block `off`
      val qkv = for {
        ((nm, w), off) <- Seq[(String, (Int, Int, Int) => Double)](
          ("q", teWqL(l, _, _, _)), ("k", teWkL(l, _, _, _)), ("v", teWvL(l, _, _, _)))
          .zip(Seq(0, d_, 2 * d_))
        hi <- 0 until h_; si <- 0 until s_; e <- 0 until dh
      } yield sum((0 until d_).map(di => s"$X${si}_$di * ${f(w(hi, di, e))}")) +
        (if (checkpoint) s" + ${f(tbBqkv(l, off + hi * dh + e))}" else "") +
        s" AS $P${nm}_${hi}_${si}_$e"
      cte(qkv)
      // scaled attention logits: scl[i][j] = (Σ_e q[i][e]·k[j][e]) · scale,
      // plus the checkpoint's em_j (pad keys → −10000)
      cte(for (hi <- 0 until h_; i <- 0 until s_; j <- 0 until s_)
        yield sum((0 until dh).map(e => s"${P}q_${hi}_${i}_$e * ${P}k_${hi}_${j}_$e")) +
          s" * $scale${if (checkpoint) s" + em_$j" else ""} AS ${P}scl_${hi}_${i}_$j")
      cte(for (hi <- 0 until h_; i <- 0 until s_)
        yield s"GREATEST(${(0 until s_).map(j => s"${P}scl_${hi}_${i}_$j").mkString(", ")})" +
          s" AS ${P}m_${hi}_$i")
      cte(for (hi <- 0 until h_; i <- 0 until s_; j <- 0 until s_)
        yield s"exp(${P}scl_${hi}_${i}_$j - ${P}m_${hi}_$i) AS ${P}e_${hi}_${i}_$j")
      cte(for (hi <- 0 until h_; i <- 0 until s_)
        yield sum((0 until s_).map(j => s"${P}e_${hi}_${i}_$j")) + s" AS ${P}s_${hi}_$i")
      // heads: hd[i][e] = Σ_j (e/s)·v[j][e], j ascending
      cte(for (hi <- 0 until h_; i <- 0 until s_; e <- 0 until dh)
        yield sum((0 until s_).map(j =>
          s"(${P}e_${hi}_${i}_$j / ${P}s_${hi}_$i) * ${P}v_${hi}_${j}_$e")) +
          s" AS ${P}hd_${hi}_${i}_$e")
      // r1[i][d] = ((Σ_c ctx[i][c]·wo[c][d]) + bo[d]) + x[i][d]
      def ctx(i: Int, c: Int) = s"${P}hd_${c / dh}_${i}_${c % dh}"
      cte(for (i <- 0 until s_; di <- 0 until d_)
        yield sum((0 until d_).map(c => s"${ctx(i, c)} * ${f(teWoL(l, c, di))}")) +
          s" + ${f(teBoL(l, di))} + $X${i}_$di AS ${P}r1_${i}_$di")
      def lnCols(src: String, out: String, g: Int => Double, b: Int => Double): Unit = {
        val tag = s"${P}mv${out.replace(P, "")}"
        cte((for (i <- 0 until s_)
          yield sum((0 until d_).map(di => s"${src}_${i}_$di")) +
            s" / ${d_}.0 AS mean_${tag}_$i") ++
          (for (i <- 0 until s_)
            yield sum((0 until d_).map(di =>
              s"(${src}_${i}_$di - mean_${tag}_$i) * (${src}_${i}_$di - mean_${tag}_$i)")) +
              s" / ${d_}.0 AS var_${tag}_$i"))
        cte(for (i <- 0 until s_; di <- 0 until d_)
          yield s"((${src}_${i}_$di - mean_${tag}_$i) / sqrt(var_${tag}_$i + $eps))" +
            s" * ${f(g(di))} + ${f(b(di))} AS ${out}${i}_$di")
      }
      lnCols(s"${P}r1", s"${P}l1_", teG1L(l, _), teB1L(l, _))
      // FFN activation: sigmoid shares the literal 1/(1+exp(−z)) formula
      // with the session (DuckDB 1.0 ships no tanh/erf; exp is the only
      // diverging libm call); the tanh variant replays math.tanh as
      // (exp(2z)−1)/(exp(2z)+1) — a ≤1-ulp formula difference absorbed
      // by the 6-dp rounding discipline
      if (activation == "gelu" || activation == "gelu_erf") {
        // both GELU spellings need the pre-activation z as its own CTE
        // column (the session's f1 node output)
        cte(for (i <- 0 until s_; fi <- 0 until f_)
          yield sum((0 until d_).map(di =>
            s"${P}l1_${i}_$di * ${f(teW1L(l, di, fi))}")) +
            s" + ${f(teBf1L(l, fi))} AS ${P}f1_${i}_$fi")
      }
      if (activation == "gelu") {
        // GELU replays the session's decomposed tanh-approx node chain:
        // 0.5·z·(1+tanh(√(2/π)·(z+0.044715·z³))) with tanh in the
        // SATURATING exp spelling 1 − 2/(exp(2a)+1): ≤1 ulp from
        // math.tanh on bounded args (inside the 6-dp rounding
        // discipline) AND it degrades to 1.0 instead of inf/inf = NaN
        // when exp(2a) overflows — matching math.tanh's saturation
        cte(for (i <- 0 until s_; fi <- 0 until f_) yield {
          val z = s"${P}f1_${i}_$fi"
          val arg = s"(($z + (($z * $z) * $z) * 0.044715) * 0.7978845608028654)"
          s"(($z * ((1.0 - 2.0 / (exp(2.0 * $arg) + 1.0)) + 1.0))" +
            s" * 0.5) AS ${P}f2_${i}_$fi"
        })
      } else if (activation == "gelu_erf") {
        // exact GELU 0.5·z·(1+erf(z/√2)): the session executes the
        // Div→Erf→Add→Mul→Mul chain with erf as the A&S 7.1.26
        // polynomial — plain arithmetic, so the oracle replays the SAME
        // polynomial term-for-term (exp is the only libm call); the
        // intermediate t needs its own CTE level to be referenced five
        // times, and `a` (= z/√2) one before that
        cte(for (i <- 0 until s_; fi <- 0 until f_)
          yield s"(${P}f1_${i}_$fi / 1.4142135623730951) AS ${P}ga_${i}_$fi")
        cte(for (i <- 0 until s_; fi <- 0 until f_)
          yield s"(1.0 / (1.0 + 0.3275911 * abs(${P}ga_${i}_$fi)))" +
            s" AS ${P}gt_${i}_$fi")
        cte(for (i <- 0 until s_; fi <- 0 until f_) yield {
          val z = s"${P}f1_${i}_$fi"
          val a = s"${P}ga_${i}_$fi"
          val t = s"${P}gt_${i}_$fi"
          // y = 1 − ((((((a1·t + a2)·t + a3)·t + a4)·t + a5)·t) · exp(−a²)),
          // associated exactly as the session's Scala expression
          val y = s"(1.0 - ((((((1.061405429 * $t - 1.453152027) * $t)" +
            s" + 1.421413741) * $t - 0.284496736) * $t + 0.254829592) * $t)" +
            s" * exp((-$a) * $a))"
          val erf = s"(CASE WHEN $a >= 0 THEN $y ELSE -$y END)"
          s"(($z * ($erf + 1.0)) * 0.5) AS ${P}f2_${i}_$fi"
        })
      } else cte(for (i <- 0 until s_; fi <- 0 until f_) yield {
        val z = sum((0 until d_).map(di =>
          s"${P}l1_${i}_$di * ${f(teW1L(l, di, fi))}")) + s" + ${f(teBf1L(l, fi))}"
        val a = activation match {
          case "sigmoid" => s"1.0 / (1.0 + exp(-($z)))"
          // saturating spelling: 1 − 2/(exp(2z)+1) degrades to 1.0 (not
          // inf/inf = NaN) on overflow, matching math.tanh
          case "tanh" => s"(1.0 - 2.0 / (exp(2.0 * ($z)) + 1.0))"
          case other => throw new IllegalArgumentException(
            s"unsupported oracle FFN activation '$other'")
        }
        s"$a AS ${P}f2_${i}_$fi"
      })
      cte(for (i <- 0 until s_; di <- 0 until d_)
        yield sum((0 until f_).map(fi => s"${P}f2_${i}_$fi * ${f(teW2L(l, fi, di))}")) +
          s" + ${f(teBf2L(l, di))} + ${P}l1_${i}_$di AS ${P}r2_${i}_$di")
      lnCols(s"${P}r2", O, teG2L(l, _), teB2L(l, _))
    }
    // pooled: Σ_i x / S, or the checkpoint's masked Σ_i x·m_i / Σ_i m_i,
    // both ascending
    val cnt = if (checkpoint) sum((0 until s_).map(i => s"m_$i")) else s"${s_}.0"
    val pooled = for (di <- 0 until d_)
      yield sum((0 until s_).map(i =>
        s"x${layers}_${i}_$di${if (checkpoint) s" * m_$i" else ""}")) +
        s" / $cnt AS pooled_$di"
    ctes += s"cP AS (SELECT id, ${pooled.mkString(", ")} FROM $prev)"
    ctes.mkString(", ")
  }

  /** The q7/q6 mini-encoder chain (classifier head, 1 and `layers` deep,
    * and the embedding output). */
  private def teEncoderCtes(layers: Int, activation: String = "sigmoid"): String =
    encoderCtes("c", TeS, TeD, TeH, TeF, layers, TeScale, TeEps, checkpoint = false,
      activation)

  private def q7TransformerSql(layers: Int, activation: String = "sigmoid"): String = {
    def f(v: Double): String = v.toString
    val xsCols = for (si <- 0 until TeS; di <- 0 until TeD)
      yield s"${teX(si, di)} AS x0_${si}_$di"
    val z = (0 until TeD).map(di => s"pooled_$di * ${f(teWh(di))}")
      .mkString("(", " + ", ")") + s" + $TeBh"
    s"WITH c0 AS (SELECT i AS id, ${xsCols.mkString(", ")} " +
      s"FROM generate_series(1, $TeN) t(i)), " + teEncoderCtes(layers, activation) + "\n" +
      s"SELECT CAST(id AS BIGINT) AS id, round(1.0 / (1.0 + exp(-($z))), 6) AS score_r " +
      "FROM cP ORDER BY id"
  }

  /** q6_value_embed oracle: token ids from the md5-low32 hash family
    * (`md5_number_lower`, the engine's proven-parity hash), a closed-form
    * embedding table, the shared unrolled encoder, pooled output
    * float-narrowed exactly like `ExternalEmbedder`. */
  private def q6ValueEmbedSql: String = {
    val toks = (0 until TeS).map { si =>
      s"COALESCE((md5_number_lower(list_extract(w, ${si + 1})) & 4294967295) % 64, 0)" +
        s" AS tid_$si"
    }
    val xs = for (si <- 0 until TeS; di <- 0 until TeD)
      yield s"CAST((tid_$si * 7 + ${di * 3}) % 17 AS DOUBLE) * 0.125 - 1.0 AS x0_${si}_$di"
    val outs = (0 until TeD).map(di =>
      s"round(CAST(CAST(pooled_$di AS REAL) AS DOUBLE), 6) AS e${di}_r")
    s"""WITH dv AS (SELECT doc_id AS id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
       |  FROM documents WHERE doc_id <= 48),
       |tids AS (SELECT id, ${toks.mkString(", ")} FROM dv),
       |c0 AS (SELECT id, ${xs.mkString(", ")} FROM tids), """.stripMargin +
      teEncoderCtes(1) + "\n" +
      s"SELECT CAST(id AS BIGINT) AS doc_id, ${outs.mkString(", ")} FROM cP ORDER BY doc_id"
  }

  /** The snippet WordPiece replay ([[Shared.wordpieceCtes]], the
    * t2_wordpiece machinery): the vocab is built from the 18-char doc snippets
    * (doc_id ≤ TbVocabDocs, maxSize TbVocabMax — the TRAINED vocab
    * relation), then greedy longest-match segmentation +
    * [CLS]/body≤(TbS−2)/[SEP] encoding of `srcSql` rows
    * `(eid, etext)` (etext already lowercased; may reference `sn`).
    * Emits CTEs `sn … enc(eid, ids)`; callers continue from `enc` and
    * must open the statement with WITH RECURSIVE (the `walk` CTE). */
  private def tbWordpieceCtes(srcSql: String): String =
    s"""sn AS (SELECT doc_id, lower(substr(text, 1, $TbSnip)) AS sniptext
       |       FROM documents WHERE doc_id < $TbDocs),
       |src AS ($srcSql),
       |""".stripMargin +
      wordpieceCtes("sniptext", s"sn WHERE doc_id <= $TbVocabDocs", TbVocabMax - 4,
        "eid", "etext", "src", TbS - 2)

  private val Q7HeadJson = "/tmp/graft_fixtures/q7_head.json"

  /** Q7 end-to-end through the REAL ONNX artifact: deterministic feature
    * rows → MLlib logistic fit → `OnnxExport.exportLogistic` (public
    * wire-format ModelProto) → per-partition `OnnxSession` scoring via
    * the external-scorer seam. The trained head is ALSO exported as the
    * JSON linear artifact, which the oracle reads to recompute
    * sigmoid(coef·x + b) over the same feature formulas — so the train →
    * export → parse → execute loop is hash-verified, not spec-only
    * (reference: `tabsketchfm_finetune.py:64-117`). */
  private def q7OnnxScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = (1 to 40).map { i =>
      val (x1, x2, x3) = ((i % 7) * 0.5 - 1.5, (i % 5) * 0.25, (i % 3) * 1.0 - 1.0)
      (i.toLong, x1, x2, x3, if (x1 + 2 * x2 - x3 > 0) 1.0 else 0.0)
    }.toDF("id", "x1", "x2", "x3", "label")
    val asm = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("x1", "x2", "x3")).setOutputCol("features")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(50).setRegParam(0.1)
    val model = new org.apache.spark.ml.Pipeline()
      .setStages(Array(asm, lr)).fit(feats)
    val onnxPath = "/tmp/graft_fixtures/q7_head.onnx"
    val jsonPath = Q7HeadJson
    graft.ml.OnnxExport.exportLogistic(model, onnxPath)
    graft.ml.Scorer.exportLinearModel(model, jsonPath) // oracle's copy
    roundedScores(new graft.ml.Scorer.ExternalModelScorer(
        graft.ml.Scorer.onnxModelFactory(onnxPath), Seq("x1", "x2", "x3"))
      .score(feats))
  }

  /** q7_onnx_score: recompute sigmoid(coef·x + b) from the exported JSON
    * twin of the ONNX head over the same feature formulas. The engine
    * side scores through the parsed ONNX ModelProto, so a wire-format,
    * parse, or execution bug breaks the hash. */
  private def q7OnnxScoreSql: String =
    s"""WITH m AS (
      |  SELECT * FROM read_json_auto('$Q7HeadJson')),
      |xs AS (
      |  SELECT i, (i % 7) * 0.5 - 1.5 AS x1, (i % 5) * 0.25 AS x2,
      |         (i % 3) * 1.0 - 1.0 AS x3
      |  FROM generate_series(1, 40) t(i))
      |SELECT CAST(i AS BIGINT) AS id,
      |  round(1.0 / (1.0 + exp(-(
      |    m.coefficients[1] * x1 + m.coefficients[2] * x2 +
      |    m.coefficients[3] * x3 + m.intercept))), 6) AS score_r
      |FROM xs, m ORDER BY id""".stripMargin

  /** E4 with a REAL (toy-sized) transformer: a 1-layer 2-head encoder —
    * per-head scaled-dot attention with Softmax, residual + LayerNorm,
    * Sigmoid FFN, mean-pool, sigmoid head — exported as an ONNX graph
    * ([[graft.ml.OnnxExport.exportEncoderStack]]) and executed DISTRIBUTED
    * by the pure-JVM [[graft.ml.OnnxSession]] through the same
    * per-partition/batched `ExternalModelScorer` seam a JNI onnxruntime
    * would use. Weights and inputs come from the closed-form
    * exact-binary-fraction formulas; the oracle replays the whole forward
    * pass as unrolled SQL in the session kernels' summation orders
    * (reference: `transformer_bert.py:88-224`, `extract_embeddings.py:
    * 16-117` — checkpoint-driven encoder inference in the engine). */
  private def q7TransformerScore(s: SparkSession, dir: String): DataFrame =
    teScore(s, "/tmp/graft_fixtures/q7_encoder.onnx", layers = 1)

  private def q7TransformerScoreSql: String = q7TransformerSql(1)

  /** The DEEP variant: a 3-layer stack of the same encoder block (the
    * reference's BERT is 12 stacked copies of this block) through the
    * same session — the oracle unrolls all three layers in SQL. */
  private def q7EncoderStack(s: SparkSession, dir: String): DataFrame =
    teScore(s, "/tmp/graft_fixtures/q7_encoder_stack.onnx", layers = 3)

  /** Q6 IN-ENGINE value/sentence embeddings (`embedding_search.py:25-42`
    * — the sentence-transformer value-vector path): each document's
    * first 4 tokens hash to ids through the proven-parity md5-low32
    * family, look up a closed-form embedding table, and run through the
    * HEADLESS mini-encoder (attention + LayerNorm + FFN + mean-pool) —
    * a real neural embedding computed distributed by the pure-JVM ONNX
    * session behind the `ExternalEmbedder` seam. The oracle replays
    * tokenization (split + md5_number_lower), the embedding lookup, and
    * the whole encoder as unrolled SQL, then float-narrows exactly like
    * the embedder. */
  private def q6ValueEmbed(s: SparkSession, dir: String): DataFrame = {
    val d = TeD
    val path = "/tmp/graft_fixtures/q6_encoder.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, withHead = false)
    val (feats, featCols) =
      teTokenFeats(t(s, dir, "documents").filter(col("doc_id") <= 48), Seq("doc_id"))
    new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), featCols, dim = d)
      .score(feats)
      .select(col("doc_id") +: (0 until d).map(di =>
        round(col("embedding")(di).cast("double"), 6).as(s"e${di}_r")): _*)
      .orderBy("doc_id")
  }

  /** The Tanh-activation variant (BERT's activation neighborhood): the
    * session executes a real Tanh node — correctly-rounded math.tanh —
    * while the oracle replays it as (exp(2z)−1)/(exp(2z)+1), the only
    * tanh DuckDB 1.0 can express; the ≤1-ulp formula difference sits
    * far inside the 6-dp rounding discipline. */
  private def q7EncoderTanh(s: SparkSession, dir: String): DataFrame =
    teScore(s, "/tmp/graft_fixtures/q7_encoder_tanh.onnx", layers = 1, activation = "Tanh")

  /** q7_encoder_tanh: the BERT-family Tanh activation under the oracle —
    * the session executes the Tanh node (correctly-rounded math.tanh);
    * DuckDB replays it as (exp(2z)−1)/(exp(2z)+1). */
  private def q7EncoderTanhSql: String = q7TransformerSql(1, "tanh")

  /** The GELU variant — BERT's actual activation (`transformer_bert.py`
    * runs the BERT GELU) in the tanh approximation: the exported graph
    * carries the decomposed Mul/Add/Tanh node chain a torch
    * approximate='tanh' export emits (no bespoke Gelu op), the session
    * executes it node by node, and the oracle replays the identical
    * chain with tanh as (exp(2a)−1)/(exp(2a)+1). */
  private def q7EncoderGelu(s: SparkSession, dir: String): DataFrame =
    teScore(s, "/tmp/graft_fixtures/q7_encoder_gelu.onnx", layers = 1, activation = "Gelu")

  /** q7_encoder_gelu: BERT's actual activation (`transformer_bert.py`
    * uses the BERT GELU) in the tanh approximation — the session executes
    * the decomposed Mul/Add/Tanh node chain a torch approximate='tanh'
    * export emits; the oracle replays the same chain with DuckDB's
    * exp-based tanh spelling. */
  private def q7EncoderGeluSql: String = q7TransformerSql(1, "gelu")

  /** The EXACT-GELU variant: the Div→Erf→Add→Mul→Mul chain a default
    * torch `nn.GELU()` (approximate='none') export writes. The session
    * executes a real Erf node (A&S 7.1.26 polynomial, |err| ≤ 1.5e-7);
    * the oracle replays the identical polynomial in SQL — with the
    * tanh-approx variant above this completes the torch-activation
    * matrix (Sigmoid/Tanh/Relu/tanh-GELU/exact-GELU). */
  private def q7EncoderGeluExact(s: SparkSession, dir: String): DataFrame =
    teScore(s, "/tmp/graft_fixtures/q7_encoder_gelu_exact.onnx", layers = 1,
      activation = "GeluErf")

  /** q7_encoder_gelu_exact: GELU in the EXACT (erf) form — the chain a
    * default torch `nn.GELU()` export writes (Div→Erf→Add→Mul→Mul). The
    * session's Erf node is the A&S 7.1.26 polynomial; the oracle replays
    * the same polynomial term-for-term (plain arithmetic + exp), so the
    * two engines agree to libm-exp rounding — completing the
    * torch-activation matrix (Sigmoid/Tanh/Relu/tanh-GELU/exact-GELU). */
  private def q7EncoderGeluExactSql: String = q7TransformerSql(1, "gelu_erf")

  /** Q6 value enrichment over the REAL vocab relation: the distinct
    * value heads (the A16 relation) tokenize through the TRAINED
    * WordPiece vocab and join the checkpoint's word-embedding TABLE —
    * the tokenizer → embedding-table path of `embedding_search.py:
    * 25-42`, fully distributed (explode → broadcast join → masked mean).
    * The table values are multiples of 1/8, so the per-value position
    * sum is exact in double and aggregation-order-independent — the
    * oracle replays it with the same closed-form formula. */
  private def q6VocabEmbed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents").filter(col("doc_id") < TbDocs)
      .select(col("doc_id"), substring(col("text"), 1, TbSnip).as("snip"))
    val vocab = graft.ml.WordPiece.buildVocab(
      docs.filter(col("doc_id") <= TbVocabDocs), "snip", maxSize = TbVocabMax)
    def vals(tbl: String, c: String) =
      t(s, dir, tbl).select(col(c).cast("string").as("value_str")).distinct()
        .select(lit(s"$tbl.$c").as("col_ref"), col("value_str"))
    val values = Seq(vals("documents", "lang"), vals("documents", "source"),
      vals("events", "event_type"), vals("orders", "o_orderstatus"),
      vals("orders", "o_orderpriority")).reduce(_ unionByName _)
    val enc = graft.ml.WordPiece.encode(values, "value_str", vocab, maxLen = TbS)
    val embTable = (0L until TbVocabMax.toLong).toDF("tok_id").select(
      col("tok_id") +: (0 until TbD).map(dd =>
        (((col("tok_id") * 7 + lit(dd * 3)) % 17).cast("double") * 0.125 - 1.0)
          .as(s"emb_$dd")): _*)
    val toks = enc.select(col("col_ref"), col("value_str"),
        posexplode(arrays_zip(col("input_ids"), col("attention_mask")))
          .as(Seq("pos", "z")))
      .filter(col("z.attention_mask") === 1)
      .select(col("col_ref"), col("value_str"), col("z.input_ids").as("tok_id"))
    val aggs = (0 until TbD).map(dd =>
      round(sum(col(s"emb_$dd")) / count(lit(1)), 6).as(s"e${dd}_r"))
    toks.join(broadcast(embTable), "tok_id")
      .groupBy("col_ref", "value_str")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("col_ref", "value_str")
  }

  /** q6_vocab_embed oracle: the distinct-value heads (the A16 relation)
    * run through the SAME trained WordPiece vocab and the checkpoint's
    * word-embedding table formula — the tokenizer → embedding-table
    * value-enrichment path (`embedding_search.py:25-42`), mean over the
    * real (unpadded) positions. All table values are multiples of 1/8,
    * so the position sum is exact in double and order-independent. */
  private def q6VocabEmbedSql: String = {
    val valSrcs = Seq(
      ("documents", "lang"), ("documents", "source"), ("events", "event_type"),
      ("orders", "o_orderstatus"), ("orders", "o_orderpriority"))
    val union = valSrcs.map { case (tbl, c) =>
      s"SELECT DISTINCT CAST($c AS VARCHAR) AS eid FROM $tbl" }
      .mkString(" UNION ")
    val pairsUnion = valSrcs.map { case (tbl, c) =>
      s"SELECT DISTINCT '$tbl.$c' AS col_ref, CAST($c AS VARCHAR) AS value_str FROM $tbl" }
      .mkString(" UNION ALL ")
    val sums = (0 until TbD).map { dd =>
      val terms = (0 until TbS).map(i =>
        s"CASE WHEN $i < ntok THEN ((COALESCE(ids[${i + 1}], 0) * 7 + ${dd * 3}) % 17) * 0.125 - 1.0 ELSE 0.0 END")
      s"round(${terms.mkString("(", " + ", ")")} / ntok, 6) AS e${dd}_r"
    }
    "WITH RECURSIVE\n" +
      tbWordpieceCtes(s"SELECT eid, lower(eid) AS etext FROM ($union)") + s""",
       |vemb AS (
       |  SELECT eid, ${sums.mkString(", ")}
       |  FROM (SELECT eid, ids, LEAST(len(ids), $TbS) AS ntok FROM enc)),
       |vout AS ($pairsUnion)
       |SELECT v.col_ref, v.value_str, e.e0_r, e.e1_r, e.e2_r, e.e3_r
       |FROM vout v JOIN vemb e ON e.eid = v.value_str
       |ORDER BY v.col_ref, v.value_str""".stripMargin
  }

  /** The realistic-checkpoint fixture (E4 end-to-end): fused-QKV layers
    * from the shared layer-indexed formula family + the 6-way
    * TabularBertEmbeddings tables. Word-embedding rows cover the whole
    * `TbVocabMax` id range regardless of the actual trained vocab size. */
  private[graft] def tbLayer(l: Int): graft.ml.OnnxExport.CheckpointLayer =
    graft.ml.OnnxExport.CheckpointLayer(
      wqkv = Array.tabulate(TbD, 3 * TbD)(tbWqkv(l, _, _)),
      bqkv = Array.tabulate(3 * TbD)(tbBqkv(l, _)),
      tail = layerTail(l, TbD, TbF))

  private[graft] def tbCheckpoint: graft.ml.OnnxExport.TabularCheckpoint = {
    graft.ml.OnnxExport.TabularCheckpoint(
      TbS, TbD, TbH, TbF, TbM,
      wordEmb = Array.tabulate(TbVocabMax, TbD)((v, dd) => tbWordE(v.toLong, dd)),
      typeEmb = Array.tabulate(TbT, TbD)((t, dd) => tbTypeE(t.toLong, dd)),
      tokposEmb = Array.tabulate(TbP, TbD)(tbTokposE),
      posEmb = Array.tabulate(TbS, TbD)(tbPosE),
      wVal = Array.tabulate(TbD, TbD)(tbWVal),
      bVal = Array.tabulate(TbD)(tbBVal),
      wMin = Array.tabulate(TbM, TbD)(tbWMin),
      bMin = Array.tabulate(TbD)(tbBMin),
      gEmb = Array.tabulate(TbD)(tbGEmb),
      bEmb = Array.tabulate(TbD)(tbBEmb),
      layers = (0 until TbL).map(tbLayer),
      attScale = TbScale, lnEps = TbEps)
  }

  /** E4 END-TO-END — the reference's actual product loop run in-engine:
    * WordPiece ids from the trained vocab RELATION → the 6-way
    * `TabularBertEmbeddings` input sum (word / token-type /
    * token-position / position Gathers + value & minhash Linears +
    * LayerNorm, `transformer_bert.py:24-87`) → a 4-LAYER encoder stack
    * behind a REAL additive attention mask (pad positions vary per doc)
    * → masked mean-pooled float32 embeddings → ranked k-NN cosine
    * search (`extract_embeddings.py:16-117` → `embedding_search.py:
    * 94-190`). The whole forward pass executes through the FLOAT32
    * multi-input checkpoint file ([[graft.ml.OnnxExport
    * .exportTabularCheckpoint]]: Gather/Cast/Split/Slice/Unsqueeze,
    * decomposed LayerNorm) in the pure-JVM session, distributed via the
    * per-partition `ExternalMultiEmbedder` seam. The oracle replays the
    * tokenizer (recursive-CTE WordPiece), the embedding sum, all four
    * layers, the mask, the pool, the float narrowing, and the ranked
    * search as ONE SQL statement. */
  private def e2eEncodeSearch(s: SparkSession, dir: String): DataFrame = {
    val path = "/tmp/graft_fixtures/e2e_checkpoint.onnx"
    graft.ml.OnnxExport.exportTabularCheckpoint(tbCheckpoint, path)
    val docs = t(s, dir, "documents").filter(col("doc_id") < TbDocs)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, TbSnip).as("snip"))
    val vocab = graft.ml.WordPiece.buildVocab(
      docs.filter(col("doc_id") <= TbVocabDocs), "snip", maxSize = TbVocabMax)
    val enc = graft.ml.WordPiece.encode(docs, "snip", vocab, maxLen = TbS)
    val idCols = (0 until TbS).map(i =>
      col("input_ids")(i).cast("double").as(s"id_$i"))
    val tyCols = (0 until TbS).map(i =>
      (ascii(substring(col("lang"), 1, 1)) % TbT).cast("double").as(s"ty_$i"))
    val tpCols = (0 until TbS).map(i => lit((i % TbP).toDouble).as(s"tp_$i"))
    val mkCols = (0 until TbS).map(i =>
      col("attention_mask")(i).cast("double").as(s"mk_$i"))
    val vvCols = for (i <- 0 until TbS; e <- 0 until TbD) yield
      (((col("input_ids")(i) * 5 + lit(e * 3)) % 13).cast("double") * 0.125 - 0.75)
        .as(s"vv_${i}_$e")
    val mhCols = for (i <- 0 until TbS; j <- 0 until TbM) yield
      (((col("input_ids")(i) * 7 + lit(j * 5 + i)) % 11).cast("double") * 0.25 - 1.25)
        .as(s"mh_${i}_$j")
    val feats = enc.select(col("doc_id") +:
      (idCols ++ tyCols ++ tpCols ++ mkCols ++ vvCols ++ mhCols): _*)
    val embedded = new graft.ml.Scorer.ExternalMultiEmbedder(
        graft.ml.Scorer.onnxMultiEmbedderFactory(path),
        Seq(
          "input_ids" -> (0 until TbS).map(i => s"id_$i"),
          "type_ids" -> (0 until TbS).map(i => s"ty_$i"),
          "tokpos_ids" -> (0 until TbS).map(i => s"tp_$i"),
          "attention_mask" -> (0 until TbS).map(i => s"mk_$i"),
          "value_vals" -> (for (i <- 0 until TbS; e <- 0 until TbD) yield s"vv_${i}_$e"),
          "minhash_vals" -> (for (i <- 0 until TbS; j <- 0 until TbM) yield s"mh_${i}_$j")),
        dim = TbD).score(feats)
    // the search tail IS the shared scale-shaped top-k operator
    // (`Ann.bruteForceTopK`: queries broadcast, corpus streams, one
    // rank/tie-break definition for every ANN path) — not an inline pair
    // join; the oracle replays its exact arithmetic (per-vector norms
    // computed once, cosine = dot/(n_a·n_b), zero-norm guard)
    val emb = embedded.select(col("doc_id"), col("embedding"))
    val q = emb.filter(col("doc_id") < TbQueries)
    graft.operators.Ann.bruteForceTopK(emb, q, k = TbTopK,
        idCol = "doc_id", vecCol = "embedding")
      .select(col("query_id"), col("rank").as("rnk"),
        col("neighbor_id").as("doc_id"), col("cosine").as("sim_r"))
      .orderBy("query_id", "rnk")
  }

  private[graft] val TbH = 2    // heads

  private[graft] val TbF = 8    // FFN width

  private[graft] val TbM = 3    // minhash input width

  private[graft] val TbL = 4    // encoder layers (the "N≥4-layer" stack)

  private[graft] val TbT = 4    // token-type embedding rows

  private[graft] val TbP = 4    // token-position embedding rows

  private[graft] val TbQueries = 4   // k-NN query docs: doc_id < this

  private[graft] val TbTopK = 3

  private[graft] val TbScale = 0.70703125 // 181/256: float32-exact ≈ 1/√dHead

  private[graft] val TbEps = 0.0009765625

  private[graft] def tbWordE(v: Long, d: Int): Double =
    ((v * 7 + d * 3) % 17) * 0.125 - 1.0

  private[graft] def tbTypeE(t: Long, d: Int): Double =
    ((t * 5 + d * 7) % 13) * 0.0625 - 0.375

  private[graft] def tbTokposE(p: Int, d: Int): Double =
    ((p * 3 + d * 5) % 11) * 0.125 - 0.625

  private[graft] def tbPosE(p: Int, d: Int): Double =
    ((p * 7 + d) % 9) * 0.25 - 1.0

  private[graft] def tbWVal(i: Int, j: Int): Double = ((i * 5 + j * 3 + 1) % 9 - 4) * 0.125

  private[graft] def tbBVal(j: Int): Double = ((j * 3) % 5 - 2) * 0.0625

  private[graft] def tbWMin(i: Int, j: Int): Double = ((i * 7 + j * 5 + 2) % 9 - 4) * 0.125

  private[graft] def tbBMin(j: Int): Double = ((j * 5 + 1) % 5 - 2) * 0.0625

  private[graft] def tbGEmb(d: Int): Double = 1.0 + (d % 3 - 1) * 0.125

  private[graft] def tbBEmb(d: Int): Double = ((d * 3) % 5 - 2) * 0.0625

  /** Fused QKV weight [D, 3D] in the torch [Q|K|V] column layout; each
    * block's column (h·dHead + e) is the teW{q,k,v}L per-head entry. */
  private[graft] def tbWqkv(l: Int, i: Int, j: Int): Double = {
    val dh = TbD / TbH
    if (j < TbD) teWqL(l, j / dh, i, j % dh)
    else if (j < 2 * TbD) teWkL(l, (j - TbD) / dh, i, (j - TbD) % dh)
    else teWvL(l, (j - 2 * TbD) / dh, i, (j - 2 * TbD) % dh)
  }

  private[graft] def tbBqkv(l: Int, j: Int): Double = ((l * 5 + j * 3) % 7 - 3) * 0.0625

  /** e2e_encode_search oracle: replay the WHOLE product loop in SQL —
    * recursive-CTE WordPiece (vocab build + greedy segmentation, the
    * t2_wordpiece machinery over 18-char snippets), the 6-way
    * TabularBertEmbeddings sum with the graph's exact add association,
    * the embedding LayerNorm, four masked encoder layers
    * ([[encoderCtes]]), the masked mean pool, the float32 narrow, and
    * the ranked cosine top-k. */
  private def e2eEncodeSearchSql: String = {
    val (s_, d_) = (TbS, TbD)
    def f(v: Double): String = sqlDouble(v)
    def sum(ts: Seq[String]): String = sqlSum(ts)
    val tidCols = (0 until s_).map(i => s"COALESCE(e.ids[${i + 1}], 0) AS tid_$i")
    val mCols = (0 until s_).map(i =>
      s"CASE WHEN $i < ntok THEN 1.0 ELSE 0.0 END AS m_$i")
    val emCols = (0 until s_).map(i => s"(m_$i - 1.0) * 10000.0 AS em_$i")
    // the graph's association: ((((we+te)+tpe)+pp)+(v·W+bV))+(m·W+bM)
    val pCols = for (i <- 0 until s_; dd <- 0 until d_) yield {
      val wE = s"(((tid_$i * 7 + ${dd * 3}) % 17) * 0.125 - 1.0)"
      val tyE = s"(((ty * 5 + ${dd * 7}) % 13) * 0.0625 - 0.375)"
      val tpE = f(tbTokposE(i % TbP, dd))
      val pE = f(tbPosE(i, dd))
      val vdot = sum((0 until d_).map(e =>
        s"(((tid_$i * 5 + ${e * 3}) % 13) * 0.125 - 0.75) * ${f(tbWVal(e, dd))}"))
      val mdot = sum((0 until TbM).map(j =>
        s"(((tid_$i * 7 + ${j * 5 + i}) % 11) * 0.25 - 1.25) * ${f(tbWMin(j, dd))}"))
      s"(((($wE + $tyE) + $tpE) + $pE) + ($vdot + ${f(tbBVal(dd))}))" +
        s" + ($mdot + ${f(tbBMin(dd))}) AS p_${i}_$dd"
    }
    val meanCols = (0 until s_).map(i =>
      sum((0 until d_).map(dd => s"p_${i}_$dd")) + s" / ${d_}.0 AS meanE_$i")
    val varCols = (0 until s_).map(i =>
      sum((0 until d_).map(dd =>
        s"(p_${i}_$dd - meanE_$i) * (p_${i}_$dd - meanE_$i)")) +
        s" / ${d_}.0 AS varE_$i")
    val x0Cols = for (i <- 0 until s_; dd <- 0 until d_) yield
      s"((p_${i}_$dd - meanE_$i) / sqrt(varE_$i + $TbEps))" +
        s" * ${f(tbGEmb(dd))} + ${f(tbBEmb(dd))} AS x0_${i}_$dd"
    val embCols = (0 until d_).map(dd =>
      s"CAST(CAST(pooled_$dd AS REAL) AS DOUBLE) AS e$dd")
    // Ann.bruteForceTopK's arithmetic: per-vector norm computed ONCE
    // (sqrt of the index-ascending square sum), cosine = dot/(n_a·n_b)
    // with the zero-norm-product guard, 6-dp round
    val dot = sum((0 until d_).map(k => s"a.e$k * b.e$k"))
    val nrm = "sqrt(" + sum((0 until d_).map(k => s"e$k * e$k")) + ")"
    s"""WITH RECURSIVE
       |${tbWordpieceCtes("SELECT doc_id AS eid, sniptext AS etext FROM sn")},
       |seq AS (
       |  SELECT e.eid AS id, len(e.ids) AS ntok,
       |    ascii(substr(d.lang, 1, 1)) % $TbT AS ty,
       |    ${tidCols.mkString(", ")}
       |  FROM enc e JOIN documents d ON d.doc_id = e.eid),
       |cm AS (SELECT *, ${mCols.mkString(", ")} FROM seq),
       |cmm AS (SELECT *, ${emCols.mkString(", ")} FROM cm),
       |ce AS (SELECT *, ${pCols.mkString(", ")} FROM cmm),
       |cv AS (SELECT *, ${meanCols.mkString(", ")}, ${varCols.mkString(", ")} FROM ce),
       |c0 AS (SELECT *, ${x0Cols.mkString(", ")} FROM cv),
       |""".stripMargin +
      encoderCtes("t", TbS, TbD, TbH, TbF, TbL, TbScale, TbEps, checkpoint = true) + s""",
       |emb0 AS (SELECT id AS doc_id, ${embCols.mkString(", ")} FROM cP),
       |emb AS (SELECT *, $nrm AS nrm FROM emb0),
       |pr AS (
       |  SELECT a.doc_id AS query_id, b.doc_id AS doc_id,
       |    CASE WHEN a.nrm * b.nrm = 0 THEN 0.0
       |         ELSE round($dot / (a.nrm * b.nrm), 6) END AS sim_r
       |  FROM emb a JOIN emb b ON b.doc_id <> a.doc_id
       |  WHERE a.doc_id < $TbQueries),
       |rk AS (
       |  SELECT query_id, doc_id, sim_r,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, doc_id) AS rnk
       |  FROM pr)
       |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rnk AS BIGINT) AS rnk,
       |  CAST(doc_id AS BIGINT) AS doc_id, sim_r
       |FROM rk WHERE rnk <= $TbTopK ORDER BY query_id, rnk""".stripMargin
  }

  /** Q1 embedding extraction through the ONNX linear-map head: literal
    * token-state vectors → `Pooling.meanPool` per column →
    * `ExternalEmbedder` over `OnnxExport.exportLinearMap` weights. All
    * fixture values are exact binary fractions, so the oracle replays
    * pooling + the linear map bit-exactly from the same formulas
    * (reference: `extract_embeddings.py:16-73`). */
  private def q1EmbedExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = for { c <- 1 to 6; t <- 1 to 4 } yield
      (c.toLong, Array.tabulate(3)(sl => ((c * 7 + t * 3 + sl) % 11) * 0.25 - 1.0))
    val pooled = graft.ml.Pooling.meanPool(
        toks.toDF("col_id", "vec"), Seq("col_id"), "vec")
      .select(col("col_id"), col("pooled")(0).as("f0"),
        col("pooled")(1).as("f1"), col("pooled")(2).as("f2"))
    val w = Array.tabulate(3, 2)((i, j) => q1Weight(i, j))
    val b = Array.tabulate(2)(q1Bias)
    val path = "/tmp/graft_fixtures/q1_embed.onnx"
    graft.ml.OnnxExport.exportLinearMap(w, b, Seq("f0", "f1", "f2"), path)
    new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), Seq("f0", "f1", "f2"), dim = 2)
      .score(pooled)
      .select(col("col_id"),
        round(col("embedding")(0).cast("double"), 6).as("e0_r"),
        round(col("embedding")(1).cast("double"), 6).as("e1_r"))
      .orderBy("col_id")
  }

  // ---- Q1/Q7 ONNX fixtures (shared with the Spark plan so both sides build
  // from ONE formula; all values exact binary fractions → bit-equality) --
  private[graft] def q1Weight(i: Int, j: Int): Double = ((i + 1) * (j + 2) % 5) * 0.5 - 1.0

  private[graft] def q1Bias(j: Int): Double = 0.1 * (j + 1)

  /** q1_embed_extract: replay mean-pooling + the exported linear map
    * (weights from the shared [[q1Weight]]/[[q1Bias]] formulas) with the
    * ONNX session's summation order, float-narrowed like the embedder. */
  private def q1EmbedExtractSql: String = {
    val terms = (0 until 2).map { j =>
      val dot = (0 until 3).map(i => s"p$i * ${q1Weight(i, j)}").mkString(" + ")
      s"round(CAST(CAST($dot + ${q1Bias(j)} AS REAL) AS DOUBLE), 6) AS e${j}_r"
    }
    s"""WITH toks AS (
       |  SELECT c AS col_id, s, ((c * 7 + t * 3 + s) % 11) * 0.25 - 1.0 AS v
       |  FROM generate_series(1, 6) a(c), generate_series(1, 4) b(t),
       |       generate_series(0, 2) d(s)),
       |pooled AS (
       |  SELECT col_id,
       |    avg(CASE WHEN s = 0 THEN v END) AS p0,
       |    avg(CASE WHEN s = 1 THEN v END) AS p1,
       |    avg(CASE WHEN s = 2 THEN v END) AS p2
       |  FROM toks GROUP BY col_id)
       |SELECT CAST(col_id AS BIGINT) AS col_id, ${terms.mkString(", ")}
       |FROM pooled ORDER BY col_id""".stripMargin
  }

  /** §2.12 streaming NEURAL op: documents stream through the encoder
    * embedder inside each micro-batch (the per-partition
    * [[graft.ml.Scorer.ExternalEmbedder]] seam is stateless, so it
    * composes with Structured Streaming unchanged — the same property
    * that lets the batch deployment scale by partitions), then a
    * complete-mode per-language aggregate pins doc counts AND
    * per-dimension embedding checksums. Tokenization, features, encoder
    * arithmetic, and 6-dp float narrowing are EXACTLY [[q6ValueEmbed]]'s
    * (oracle-pinned there per doc); sums go through DECIMAL(18,6) so the
    * checksum is aggregation-order-independent — streamed == batch is
    * the contract the oracle checks, not approximately. */
  private def stStreamEmbedQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val name = s"st_embed_${streamSeq.incrementAndGet()}"
    val d = TeD
    val path = "/tmp/graft_fixtures/st_embed_encoder.onnx"
    graft.ml.OnnxExport.exportEncoderStack(teStack(1), path, withHead = false)
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    val stream = s.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") <= 48)
    val (feats, featCols) = teTokenFeats(stream, Seq("doc_id", "lang"))
    val emb = new graft.ml.Scorer.ExternalEmbedder(
        graft.ml.Scorer.onnxEmbedderFactory(path), featCols, dim = d)
      .score(feats)
    val perDoc = emb.select(col("lang") +: (0 until d).map(di =>
      round(col("embedding")(di).cast("double"), 6).as(s"e$di")): _*)
    val agg = perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      (0 until d).map(di =>
        sum(col(s"e$di").cast(DecimalType(18, 6))).cast("double")
          .as(s"sum_e$di")): _*)
    runStreamNarrow(s)(agg.writeStream.format("memory").queryName(name)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start())
    s.table(name).orderBy("lang")
  }

  /** st_stream_embed oracle: the q6_value_embed per-doc replay (same
    * tokens, features, unrolled encoder, float narrowing, 6-dp rounds)
    * joined back to `documents` for the language and rolled up —
    * COUNT(*) plus per-dimension DECIMAL(18,6) checksums, the
    * aggregation-order-independent form the streaming complete-mode agg
    * computes micro-batch-side. Streamed == batch IS this compare. */
  private def stStreamEmbedSql: String = {
    val sums = (0 until TeD).map(di =>
      s"CAST(SUM(CAST(e${di}_r AS DECIMAL(18,6))) AS DOUBLE) AS sum_e$di")
    s"""WITH per_doc AS (${q6ValueEmbedSql}),
       |langs AS (SELECT doc_id, lang FROM documents WHERE doc_id <= 48)
       |SELECT l.lang AS lang, COUNT(*) AS n_docs, ${sums.mkString(", ")}
       |FROM per_doc e JOIN langs l ON e.doc_id = l.doc_id
       |GROUP BY l.lang ORDER BY lang""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q7_onnx_score", q7OnnxScore, q7OnnxScoreSql),
    QuerySpec("q7_transformer_score", q7TransformerScore, q7TransformerScoreSql),
    QuerySpec("q7_encoder_stack", q7EncoderStack, q7TransformerSql(3)),
    QuerySpec("q6_value_embed", q6ValueEmbed, q6ValueEmbedSql),
    QuerySpec("q7_encoder_tanh", q7EncoderTanh, q7EncoderTanhSql),
    QuerySpec("q7_encoder_gelu", q7EncoderGelu, q7EncoderGeluSql),
    QuerySpec("q7_encoder_gelu_exact", q7EncoderGeluExact, q7EncoderGeluExactSql),
    QuerySpec("q6_vocab_embed", q6VocabEmbed, q6VocabEmbedSql),
    QuerySpec("e2e_encode_search", e2eEncodeSearch, e2eEncodeSearchSql),
    QuerySpec("q1_embed_extract", q1EmbedExtract, q1EmbedExtractSql),
    QuerySpec("st_stream_embed", stStreamEmbedQ, stStreamEmbedSql))
}
