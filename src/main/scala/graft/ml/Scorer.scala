package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.types._

/** Model-in-the-loop scoring seam (Q1/Q7) — the pluggable interface the
  * reference fills with a torch checkpoint (`/root/reference/tabsketchfm/
  * extract_embeddings.py:16-117`: load model, batch rows, forward pass,
  * collect vectors).
  *
  * Spark-side contract: scoring is a whole-DataFrame transform so the
  * engine can keep it distributed; the external-model implementations run
  * `mapPartitions` with ONE model handle per partition and fixed-size
  * batches — exactly the shape an ONNX Runtime / JNI session needs. The
  * container ships no inference runtime, so tests plug deterministic fakes
  * into the same seam; swapping in a real session changes only the
  * factory closure, none of the plumbing.
  */
trait TableScorer extends Serializable {
  /** Append a score/embedding column to `features`. Must not reorder or
    * drop input columns — downstream pair joins rely on passthrough. */
  def score(features: DataFrame): DataFrame
}

object Scorer {

  /** MLlib-native implementation: the trained pipeline from
    * [[PairScoring.trainScorer]] IS the model; `transform` keeps the whole
    * plan in Catalyst (no partition barrier, codegen where MLlib allows).
    */
  final class PipelineScorer(model: org.apache.spark.ml.PipelineModel)
      extends TableScorer {
    def score(features: DataFrame): DataFrame = model.transform(features)
  }

  /** Effective rows-per-batch: the smaller of the configured cap and
    * what a ~64 MiB per-batch input budget allows at this feature
    * width. 256 rows is the right batch shape at tens of features, but
    * a realistic checkpoint feeds seq×dim FLAT columns (seq 512 ×
    * d 768 ≈ 3 MiB of doubles per row), where a fixed 256 would stage
    * ~800 MiB of batch matrix per task before the model even runs —
    * with one task per core, that alone exceeds a typical executor's
    * per-core memory share. Never below 1 row. */
  private[ml] def budgetedBatch(configured: Int, featureCount: Int): Int = {
    val budgetBytes = 64L << 20
    val rowBytes = math.max(featureCount.toLong, 1L) * 8L
    math.max(1L, math.min(configured.toLong, budgetBytes / rowBytes)).toInt
  }

  /** External-model scorer: one `Double` per row from a batched forward
    * pass. `modelFactory` runs once per partition — that is where a real
    * integration opens its ONNX session / JNI handle — and receives
    * `batchSize`-row matrices (the batch shape inference runtimes want;
    * byte-budgeted down at very wide feature rows, [[budgetedBatch]]).
    */
  final class ExternalModelScorer(
      modelFactory: () => Array[Array[Double]] => Array[Double],
      featureCols: Seq[String],
      batchSize: Int = 256,
      outputCol: String = "score") extends TableScorer {

    def score(features: DataFrame): DataFrame = {
      val schema = features.schema
      val outSchema = schema.add(outputCol, DoubleType, nullable = false)
      val idxs = featureCols.map(schema.fieldIndex).toArray
      val bs = budgetedBatch(batchSize, idxs.length)
      implicit val enc = RowEncoder.encoderFor(outSchema)
      features.mapPartitions { it =>
        val model = modelFactory() // per-partition init (session/handle)
        it.grouped(bs).flatMap { rows =>
          val m = rows.map(r => idxs.map(i => r.getAs[Number](i).doubleValue())).toArray
          val scores = model(m)
          require(scores.length == rows.length,
            s"scorer returned ${scores.length} scores for ${rows.length} rows")
          rows.lazyZip(scores).map { (r, s) => Row.fromSeq(r.toSeq :+ s) }
        }
      }
    }
  }

  /** Export the trained classification pipeline's linear stage as a
    * portable JSON artifact `{features, coefficients, intercept}` — the
    * engine's stand-in for an ONNX export of the reference's fine-tuned
    * scoring head (`tabsketchfm_finetune.py:64-117`). No inference runtime
    * ships in this environment, so the artifact is scored by the pure-JVM
    * kernel in [[linearModelFactory]] behind the SAME per-partition /
    * batched seam a real session would use; swapping in onnxruntime
    * changes only the factory body.
    */
  def exportLinearModel(model: org.apache.spark.ml.PipelineModel,
                        path: String): Unit = {
    val (feats, coefs, intercept) = OnnxExport.logisticStage(model, "exportLinearModel")
    val json =
      s"""{"features":[${feats.map("\"" + _ + "\"").mkString(",")}],
         |"coefficients":[${coefs.mkString(",")}],
         |"intercept":$intercept}""".stripMargin.replace("\n", "")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
  }

  /** Batch-scoring factory over an exported linear artifact: the file is
    * opened and parsed ONCE per partition (the session-init slot — where a
    * real integration creates its ONNX session), then each batch matrix is
    * scored with the sigmoid linear kernel, matching `PipelineScorer`'s
    * positive-class probability. `onInit` observes the per-partition init
    * (specs count it with an accumulator).
    */
  def linearModelFactory(path: String, onInit: () => Unit = () => ())
      : () => Array[Array[Double]] => Array[Double] =
    () => {
      onInit()
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
      import org.json4s.jvalue2monadic
      val coef = (j \ "coefficients").extract[Seq[Double]].toArray
      val intercept = (j \ "intercept").extract[Double]
      (batch: Array[Array[Double]]) => batch.map { x =>
        require(x.length == coef.length,
          s"feature width ${x.length} != model width ${coef.length}")
        var z = intercept
        var i = 0
        while (i < coef.length) { z += coef(i) * x(i); i += 1 }
        1.0 / (1.0 + math.exp(-z))
      }
    }

  /** Per-JVM shared ONNX sessions, keyed by model path. On a multi-core
    * executor, "one session per partition" multiplies the checkpoint's
    * weight memory by the concurrent tasks in the JVM: a BERT-base layer
    * parses to ~60 MB of double weights plus the transposed-GEMM memo
    * (~2×), so 32 concurrent tasks stage ~5 GB of identical weights
    * before a single forward runs — measured OOM on the local[32] bench
    * at seq 512 with an 8 GB heap. One session per JVM is the real
    * inference-engine deployment shape (onnxruntime likewise shares
    * weights across intra-op threads). Safe because
    * [[OnnxSession.forward]] keeps every per-call tensor local; the only
    * cross-call state is the synchronized transposed-weight memo (a
    * racing first touch computes the transpose twice, both identical).
    * Sessions live for the executor JVM's lifetime — the cache is the
    * point, not a leak. */
  private val sharedSessions =
    new java.util.concurrent.ConcurrentHashMap[String, OnnxSession]()
  def sharedSession(path: String): OnnxSession =
    sharedSessions.computeIfAbsent(path, p => OnnxSession.load(p))

  /** [[onnxModelFactory]] with the per-JVM shared session — use when
    * partitions-per-executor × model size would not fit the heap. */
  def sharedOnnxModelFactory(path: String)
      : () => Array[Array[Double]] => Array[Double] =
    () => {
      val session = sharedSession(path)
      (batch: Array[Array[Double]]) => session.run(batch)
    }

  /** Batch-scoring factory over an exported ONNX artifact
    * ([[OnnxExport.exportLogistic]]): the model file is parsed and the
    * session opened ONCE per partition — the exact slot a JNI-backed
    * `OrtSession` occupies when a real onnxruntime jar is on the
    * classpath (none ships in this offline container; [[OnnxSession]] is
    * the pure-JVM session over the same ONNX bytes). */
  def onnxModelFactory(path: String, onInit: () => Unit = () => ())
      : () => Array[Array[Double]] => Array[Double] =
    () => {
      onInit()
      val session = OnnxSession.load(path)
      (batch: Array[Array[Double]]) => session.run(batch)
    }

  /** Embedding-head factory over an exported ONNX linear map
    * ([[OnnxExport.exportLinearMap]]): per-partition session, batch in,
    * `[n, k]` float vectors out — plugs into [[ExternalEmbedder]], the
    * Q1 `extract_embeddings` shape. */
  def onnxEmbedderFactory(path: String, onInit: () => Unit = () => ())
      : () => Array[Array[Double]] => Array[Array[Float]] =
    () => {
      onInit()
      val session = OnnxSession.load(path)
      (batch: Array[Array[Double]]) =>
        session.runMatrix(batch).map(_.map(_.toFloat))
    }

  /** The exported artifact's feature column order (callers wire it into
    * [[ExternalModelScorer]]'s `featureCols` so batch layout matches). */
  def exportedFeatures(path: String): Seq[String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s.jvalue2monadic
    (org.json4s.jackson.JsonMethods.parse(txt) \ "features").extract[Seq[String]]
  }

  /** Multi-input embedder factory over a realistic checkpoint
    * ([[OnnxExport.exportTabularCheckpoint]]): per-partition session,
    * NAMED batch matrices in (input_ids / attention_mask / value
    * vectors…), `[n, k]` float vectors out. */
  def onnxMultiEmbedderFactory(path: String, onInit: () => Unit = () => ())
      : () => Map[String, Array[Array[Double]]] => Array[Array[Float]] =
    () => {
      onInit()
      val session = OnnxSession.load(path)
      (batches: Map[String, Array[Array[Double]]]) =>
        session.runMulti(batches).map(_.map(_.toFloat))
    }

  /** Multi-input external embedder — the realistic-checkpoint seam: each
    * graph input is fed from its own group of flat feature columns
    * (`inputCols`: input name → column names, in tensor order). Same
    * per-partition/batched contract as [[ExternalEmbedder]]. */
  final class ExternalMultiEmbedder(
      modelFactory: () => Map[String, Array[Array[Double]]] => Array[Array[Float]],
      inputCols: Seq[(String, Seq[String])],
      dim: Int,
      batchSize: Int = 256,
      outputCol: String = "embedding") extends TableScorer {

    def score(features: DataFrame): DataFrame = {
      val schema = features.schema
      val outSchema = schema.add(outputCol, ArrayType(FloatType, containsNull = false))
      val groups = inputCols.map { case (name, cols) =>
        name -> cols.map(schema.fieldIndex).toArray
      }
      val (bs, d) = (budgetedBatch(batchSize, groups.map(_._2.length).sum), dim)
      implicit val enc = RowEncoder.encoderFor(outSchema)
      features.mapPartitions { it =>
        val model = modelFactory()
        it.grouped(bs).flatMap { rows =>
          val batches = groups.map { case (name, idxs) =>
            name -> rows.map(r => idxs.map(i => r.getAs[Number](i).doubleValue())).toArray
          }.toMap
          val vecs = model(batches)
          require(vecs.length == rows.length && vecs.forall(_.length == d),
            s"embedder must return one $d-dim vector per row")
          rows.lazyZip(vecs).map { (r, v) => Row.fromSeq(r.toSeq :+ v.toSeq) }
        }
      }
    }
  }

  /** External embedder (Q1): one `Array[Float]` per row — the
    * `extract_embeddings` shape. Same per-partition/batched contract as
    * [[ExternalModelScorer]]; input is the row's feature columns, output a
    * fixed-`dim` vector column.
    */
  final class ExternalEmbedder(
      modelFactory: () => Array[Array[Double]] => Array[Array[Float]],
      featureCols: Seq[String],
      dim: Int,
      batchSize: Int = 256,
      outputCol: String = "embedding") extends TableScorer {

    /** [[ExternalMultiEmbedder]] with the feature columns as its one input. */
    def score(features: DataFrame): DataFrame =
      new ExternalMultiEmbedder(() => {
        val model = modelFactory()
        batches => model(batches("features"))
      }, Seq("features" -> featureCols), dim, batchSize, outputCol).score(features)
  }
}
