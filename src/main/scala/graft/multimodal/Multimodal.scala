package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.reflect.runtime.universe.TypeTag

/** Multimodal column plumbing — engine extension for training-data
  * pipelines: image/audio/video travel as opaque `binary` columns with a
  * typed metadata struct; decode / feature-extract run as `mapPartitions`
  * batch transforms (the Scala analogue of `mapInPandas` batches).
  *
  * Decoding is the pluggable [[MediaDecoder]] seam: [[HeaderDecoder]]
  * REALLY parses container headers (PNG/JPEG/GIF dimensions) pure-JVM,
  * and the default feature path [[PixelDecoder]] fully decodes every
  * format whose math needs no codec library — PNG ([[PngCodec]]), GIF
  * ([[GifCodec]]), baseline JPEG ([[JpegCodec]]), WAV PCM
  * ([[WavCodec]]), MP4 metadata ([[Mp4Probe]]). Only compressed A/V
  * codec payloads fall back to the deterministic [[decodeStub]]
  * fingerprint. Everything Spark-side — schema, batching, partitioning,
  * output shape — is identical for a codec-backed decoder.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),   // image|audio|video
    StructField("mime", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** STUB decoder: a real implementation would decode `payload` with an
    * image/audio library. The fake derives a deterministic feature vector
    * from the payload bytes so the pipeline shape (binary → fixed-width
    * float features) is fully exercised and reproducible.
    */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (payload != null) {
      var h = 1469598103934665603L // FNV offset
      var i = 0
      while (i < payload.length) {
        h = (h ^ payload(i)) * 1099511628211L
        out(math.abs((h % dim).toInt)) += 1.0f
        i += 1
      }
      var j = 0
      val n = math.max(payload.length, 1).toFloat
      while (j < dim) { out(j) /= n; j += 1 }
    }
    out
  }

  /** Feature extraction over media batches: `mapPartitions` so any real
    * decoder amortizes model/codec init once per partition (the same
    * batching rationale as pandas-UDF execution). The decoder is the
    * pluggable [[MediaDecoder]] seam; the default [[PixelDecoder]]
    * hashes DECODED samples for PNG/GIF/JPEG (re-encodings of one image
    * agree) and falls back to the byte fingerprint otherwise.
    */
  def extractFeatures(media: DataFrame, dim: Int = 64,
                      decoder: MediaDecoder = PixelDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out = media.select(col("media_id"), col("modality"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // decoder state (codec/session) initializes here, once per partition
        it.map { case (id, modality, payload) =>
          (id, modality, decoder.features(payload, dim))
        }
      }
    out.toDF("media_id", "modality", "features")
  }

  /** Header probe over media payloads: REAL byte parsing (PNG/JPEG/GIF
    * dimensions via [[HeaderDecoder]] by default) appended as
    * `(format, img_width, img_height)` — null when the payload is not a
    * recognized container. Distributed `mapPartitions`, no codec needed.
    */
  def probeHeaders(media: DataFrame,
                   decoder: MediaDecoder = HeaderDecoder): DataFrame = {
    val schema = media.schema
    val outSchema = schema
      .add("format", StringType, nullable = true)
      .add("img_width", IntegerType, nullable = true)
      .add("img_height", IntegerType, nullable = true)
    val pi = schema.fieldIndex("payload")
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.mapPartitions { it =>
      it.map { r =>
        val info = decoder.probe(r.getAs[Array[Byte]](pi))
        Row.fromSeq(r.toSeq ++ (info match {
          case Some(i) => Seq(i.format, i.width, i.height)
          case None    => Seq(null, null, null)
        }))
      }
    }
  }

  /** A payload's pixels: PNG, else GIF, else baseline JPEG; None when
    * no codec decodes it. */
  private def decodeImage(payload: Array[Byte]): Option[PngCodec.Image] =
    PngCodec.decode(payload).orElse(GifCodec.decode(payload)).orElse(JpegCodec.decode(payload))

  /** Runs `decode` over `media`'s (media_id, payload) rows, one
    * partition at a time; the output is media_id followed by `cols`, one
    * per field after the id in `decode`'s tuples. */
  private def decodePayloads[T <: Product : TypeTag](media: DataFrame, cols: String*)(
      decode: Iterator[(Long, Array[Byte])] => Iterator[T]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(decode)(Encoders.product[T])
      .toDF("media_id" +: cols: _*)
  }

  /** FULL-FRAME decode over payload batches: real PNG ([[PngCodec]] —
    * inflate + unfilter), GIF ([[GifCodec]] — LZW + palette), and
    * baseline JPEG ([[JpegCodec]] — Huffman + IDCT) pixel decoding,
    * pure JVM, distributed via the same per-partition batch shape.
    * Output per row: pixel dimensions, channel count, and per-channel
    * mean sample values; nulls when the payload is outside the decodable
    * profile. At 100 TB this is the exact shape a codec-backed frame
    * decoder runs in — only the decode body differs.
    */
  def pixelStats(media: DataFrame): DataFrame =
    decodePayloads(media, "px_width", "px_height", "n_channels", "channel_means") { it =>
      it.map { case (id, payload) =>
        decodeImage(payload) match {
          case Some(img) =>
            (id, Some(img.width), Some(img.height), Some(img.channels),
              Some(img.channelMeans.toSeq))
          case None => (id, None, None, None, None)
        }
      }
    }

  /** FULL audio decode over payload batches: real WAV/RIFF PCM parsing
    * ([[WavCodec]]) distributed via the same per-partition batch shape
    * as [[pixelStats]]. Output per row: sample rate, channel count,
    * frame count, duration, and RMS amplitude; nulls when the payload
    * is not integer-PCM WAV.
    */
  def audioStats(media: DataFrame): DataFrame =
    decodePayloads(media, "sample_rate", "n_channels", "n_frames", "duration_ms",
        "rms") { it =>
      it.map { case (id, payload) =>
        WavCodec.decode(payload) match {
          case Some(a) =>
            (id, Some(a.sampleRate), Some(a.channels), Some(a.frames.toLong),
              Some(a.durationMs), Some(a.rms))
          case None => (id, None, None, None, None, None)
        }
      }
    }

  /** 64-bit difference hash (dHash) of a decoded image — the standard
    * perceptual near-dup key for image corpora (aHash/dHash/pHash
    * family; dHash is the gradient variant). The image average-pools to
    * a 9×8 luma grid and each bit records whether a cell outshines its
    * right neighbor — so re-encodes, format changes, and UNIFORM
    * brightness shifts hash identically, while content edits flip only
    * the bits whose cells they touch.
    *
    * Integer-exact pipeline (oracle-replayable): luma =
    * `(299R + 587G + 114B) / 1000` truncated (channel 0 for gray),
    * cell of pixel x = `x*9/w` (y analogous), cell value =
    * `floor(sum/count)`. Images narrower than the grid (w<9 or h<8)
    * yield null. */
  def dhash(media: DataFrame): DataFrame =
    decodePayloads(media, "dhash") { it =>
      it.map { case (id, payload) => (id, decodeImage(payload).flatMap(dhashOf)) }
    }

  private[multimodal] def dhashOf(img: PngCodec.Image): Option[Long] = {
    if (img.width < 9 || img.height < 8) return None
    val (w, h, ch) = (img.width, img.height, img.channels)
    val sums = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val base = (y * w + x) * ch
        val luma =
          if (ch >= 3)
            (299L * (img.pixels(base) & 0xff) + 587L * (img.pixels(base + 1) & 0xff) +
              114L * (img.pixels(base + 2) & 0xff)) / 1000L
          else (img.pixels(base) & 0xff).toLong
        val cx = x * 9 / w
        sums(cy)(cx) += luma
        counts(cy)(cx) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        val l = sums(cy)(cx) / counts(cy)(cx)
        val r = sums(cy)(cx + 1) / counts(cy)(cx + 1)
        if (l > r) bits |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    Some(bits)
  }

  /** Perceptual near-dup pairs over an image corpus: [[dhash]] then the
    * banded Hamming join shared with SimHash
    * ([[graft.operators.Dedup.hamming64Pairs]] — exact recall at
    * distance ≤ maxHamming, candidates shuffle ids+hashes only).
    */
  def dhashNearDups(media: DataFrame, maxHamming: Int = 8): DataFrame =
    graft.operators.Dedup.hamming64Pairs(
      dhash(media).filter(col("dhash").isNotNull)
        .select(col("media_id").as("id"), col("dhash").as("sh")),
      maxHamming)

  /** 64-bit audio fingerprint — the [[dhash]] idea over PCM: the clip's
    * first channel partitions into 65 equal-ish windows, each window's
    * mean energy (`floor(Σs²/n)`, exact integers) compares against its
    * successor, one bit per comparison. Gradient bits are invariant to
    * uniform GAIN (energy scales by the square of the factor on every
    * window) and to container re-encodes, while localized edits flip
    * only the bits whose windows they touch — the same robustness
    * profile acoustic fingerprinters (Chromaprint family) build on,
    * reduced to an integer-exact, oracle-replayable core. Clips shorter
    * than 65 frames (or undecodable payloads) yield null.
    */
  def audioFingerprint(media: DataFrame): DataFrame =
    decodePayloads(media, "afp") { it =>
      it.map { case (id, payload) =>
        (id, WavCodec.decode(payload).flatMap(afpOf))
      }
    }

  private[multimodal] def afpOf(a: WavCodec.Audio): Option[Long] = {
    val frames = a.frames
    if (frames < 65 || a.channels < 1) return None
    val e = new Array[Long](65)
    val n = new Array[Long](65)
    var f = 0
    while (f < frames) {
      val s = a.samples(f * a.channels).toLong // first channel
      val w = (f.toLong * 65 / frames).toInt
      e(w) += s * s
      n(w) += 1
      f += 1
    }
    var bits = 0L
    var b = 0
    while (b < 64) {
      if (e(b) / n(b) > e(b + 1) / n(b + 1)) bits |= 1L << b
      b += 1
    }
    Some(bits)
  }

  /** Audio near-dup pairs: [[audioFingerprint]] + the shared banded
    * Hamming join ([[graft.operators.Dedup.hamming64Pairs]]). */
  def audioNearDups(media: DataFrame, maxHamming: Int = 6): DataFrame =
    graft.operators.Dedup.hamming64Pairs(
      audioFingerprint(media).filter(col("afp").isNotNull)
        .select(col("media_id").as("id"), col("afp").as("sh")),
      maxHamming)

  /** Decoded-content fingerprints: hash the DECODED pixels (dims +
    * channels + raster MD5), not the payload bytes — so the same image
    * re-encoded (PNG vs GIF vs JPEG, different compressors, different
    * filter choices) fingerprints identically, which byte-level hashing
    * can never do. Null for payloads outside the decodable profiles.
    * Feed the result to [[graft.operators.Dedup.exactDuplicates]] with
    * `textCol = "pixel_fp"` for cross-format media dedup — one hash
    * shuffle, the standard exact-dedup scale shape.
    */
  def pixelFingerprints(media: DataFrame): DataFrame =
    decodePayloads(media, "pixel_fp") { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, payload) =>
        decodeImage(payload) match {
          case Some(img) =>
            md.reset()
            md.update(s"${img.width}x${img.height}x${img.channels}:"
              .getBytes("US-ASCII"))
            (id, Some(md.digest(img.pixels).map("%02x".format(_)).mkString))
          case None => (id, None)
        }
      }
    }

  /** Integer box-filter downsample of DECODED pixels — the resize leg
    * of the multimodal plumbing (thumbnailing / model-input shrink):
    * output pixel (X, Y, c) is the TRUNCATING mean of its
    * `factor`×`factor` input block (ragged right/bottom blocks average
    * their real coverage), all in exact integer arithmetic, so the
    * resized raster replays bit-identically from a generative pixel
    * formula on any engine. Runs in the same per-partition batch shape
    * as [[pixelStats]]. Output per image: resized dims, per-channel
    * means of the resized raster, and the exact integer sum of all
    * resized values (the raster checksum).
    */
  def resizeStats(media: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    decodePayloads(media, "rs_width", "rs_height", "n_channels", "channel_means",
        "checksum") { it =>
      it.map { case (id, payload) =>
        decodeImage(payload) match {
          case Some(img) =>
            val rw = (img.width + factor - 1) / factor
            val rh = (img.height + factor - 1) / factor
            val ch = img.channels
            val sums = new Array[Long](ch)
            var checksum = 0L
            var yy = 0
            while (yy < rh) {
              var xx = 0
              while (xx < rw) {
                var c = 0
                while (c < ch) {
                  var s = 0L; var n = 0
                  var y = yy * factor
                  val yEnd = math.min(yy * factor + factor, img.height)
                  val xEnd = math.min(xx * factor + factor, img.width)
                  while (y < yEnd) {
                    var x = xx * factor
                    while (x < xEnd) {
                      s += (img.pixels((y * img.width + x) * ch + c) & 0xff)
                      n += 1; x += 1
                    }
                    y += 1
                  }
                  val v = s / n // truncating: nonnegative, ≡ SQL //
                  sums(c) += v
                  checksum += v
                  c += 1
                }
                xx += 1
              }
              yy += 1
            }
            val nOut = rw.toLong * rh
            (id, Some(rw), Some(rh), Some(ch),
              Some(sums.map(_.toDouble / nOut).toSeq), Some(checksum))
          case None => (id, None, None, None, None, None)
        }
      }
    }
  }

  /** Video container probe over payload batches: real MP4/ISO-BMFF box
    * walking ([[Mp4Probe]]) — movie duration from `mvhd`, track
    * dimensions from `tkhd`, track count — distributed like
    * [[pixelStats]]. Frame decoding needs video codec libraries and
    * stays behind the [[MediaDecoder]] seam; the metadata parsed here
    * is exactly what [[sampleFramePlan]] consumes.
    */
  def videoProbe(media: DataFrame): DataFrame =
    decodePayloads(media, "duration_ms", "vid_width", "vid_height", "n_tracks") { it =>
      it.map { case (id, payload) =>
        Mp4Probe.probe(payload) match {
          case Some(v) =>
            (id, Some(v.durationMs), Some(v.width), Some(v.height),
              Some(v.nTracks))
          case None => (id, None, None, None, None)
        }
      }
    }

  /** Payload-level metadata probe without decoding: size, magic-byte
    * sniff, fingerprint — cheap columnar ops on binary.
    */
  def mediaStats(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("modality"),
      octet_length(col("payload")).as("n_bytes"),
      md5(col("payload")).as("payload_md5"),
      substring(hex(col("payload")), 1, 8).as("magic"))

  /** Frame-sampling plan for video payloads: every `stepMs` up to
    * `meta.duration_ms` — pure relational expansion (`sequence`), the
    * frame decode itself happens in [[extractFeatures]] per sampled
    * offset at real scale.
    */
  def sampleFramePlan(media: DataFrame, stepMs: Long = 1000L): DataFrame =
    media.filter(col("modality") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0L), coalesce(col("meta.duration_ms"), lit(0L)),
          lit(stepMs))).as("frame_offset_ms"))
}
