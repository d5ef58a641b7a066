package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.Row

class MultimodalSpec extends SparkSpec {

  private lazy val media = {
    val rows = Seq(
      Row(1L, "image", "image/png", Array[Byte](1, 2, 3, 4, 5), Row(64, 48, null)),
      Row(2L, "image", "image/png", Array[Byte](1, 2, 3, 4, 5), Row(64, 48, null)),
      Row(3L, "audio", "audio/wav", Array[Byte](9, 9, 9), Row(null, null, 4000L)),
      Row(4L, "video", "video/mp4", Array[Byte](7), Row(320, 240, 3500L)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
  }

  test("extractFeatures: fixed-dim vectors, deterministic on same payload") {
    val f = Multimodal.extractFeatures(media, dim = 32).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](2)).toMap
    assert(f.size == 4)
    assert(f.values.forall(_.length == 32))
    assert(f(1L) == f(2L))   // same payload -> same features
    assert(f(1L) != f(3L))
    // default decoder hashes DECODED samples: a PNG and GIF of the same
    // raster agree on features even though their bytes differ entirely
    import spark.implicits._
    val (w, h, seed) = (12, 9, 21)
    val pair = Seq(
      (1L, "image", SyntheticMedia.gifFull(w, h, seed)),
      (2L, "image", SyntheticMedia.pngOf(w, h, 3, SyntheticMedia.gifRaster(w, h, seed))))
      .toDF("media_id", "modality", "payload")
    val pf = Multimodal.extractFeatures(pair, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](2)).toMap
    assert(pf(1L) == pf(2L))
  }

  test("mediaStats: size, md5, magic bytes without decode") {
    val s = Multimodal.mediaStats(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(s(1L).getAs[Int]("n_bytes") == 5)
    assert(s(1L).getAs[String]("payload_md5") == s(2L).getAs[String]("payload_md5"))
    assert(s(1L).getAs[String]("magic") == "01020304")
  }

  test("HeaderDecoder parses synthetic PNG/JPEG/GIF dimensions") {
    assert(HeaderDecoder.probe(SyntheticMedia.png(640, 480))
      .contains(MediaDecoder.Info("png", 640, 480)))
    assert(HeaderDecoder.probe(SyntheticMedia.jpeg(123, 45))
      .contains(MediaDecoder.Info("jpeg", 123, 45)))
    assert(HeaderDecoder.probe(SyntheticMedia.gif(70000 % 65536, 2))
      .contains(MediaDecoder.Info("gif", 70000 % 65536, 2)))
    // wide dims exercise high bytes on both endiannesses
    assert(HeaderDecoder.probe(SyntheticMedia.png(65537, 300))
      .contains(MediaDecoder.Info("png", 65537, 300)))
    assert(HeaderDecoder.probe(SyntheticMedia.gif(513, 1027))
      .contains(MediaDecoder.Info("gif", 513, 1027)))
  }

  test("HeaderDecoder rejects junk, truncation, and SOF-less JPEG") {
    assert(HeaderDecoder.probe(null).isEmpty)
    assert(HeaderDecoder.probe(Array[Byte]()).isEmpty)
    assert(HeaderDecoder.probe("not an image at all".getBytes).isEmpty)
    assert(HeaderDecoder.probe(SyntheticMedia.png(10, 10).take(20)).isEmpty)
    // SOI + APP0 only, then EOI: walker must not read past the end
    val noSof = Array(0xff, 0xd8).map(_.toByte) ++
      SyntheticMedia.jpeg(1, 1).slice(2, 20) ++ Array(0xff, 0xd9).map(_.toByte)
    assert(HeaderDecoder.probe(noSof).isEmpty)
  }

  test("probeHeaders appends format/dims distributed, null on non-media") {
    val withImages = media.union(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(10L, "image", "image/png",
          SyntheticMedia.png(320, 200), Row(null, null, null)))),
      Multimodal.mediaSchema))
    val out = Multimodal.probeHeaders(withImages).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getAs[String]("format") == "png")
    assert(out(10L).getAs[Int]("img_width") == 320)
    assert(out(10L).getAs[Int]("img_height") == 200)
    assert(out(1L).getAs[String]("format") == null) // 5 junk bytes
  }

  test("PngCodec round-trips every channel layout and all five filters exactly") {
    // h >= 5 so the per-row filter cycle exercises None/Sub/Up/Avg/Paeth
    for (ch <- 1 to 4) {
      val (w, h, seed) = (13, 7, 91 + ch)
      val img = PngCodec.decode(SyntheticMedia.pngFull(w, h, seed, ch))
        .getOrElse(fail(s"decode failed for $ch channels"))
      assert(img.width == w && img.height == h && img.channels == ch)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until ch) {
        val expect = (x * 3 + y * 7 + c * 11 + seed) % 256
        val got = img.pixels(y * w * ch + x * ch + c) & 0xff
        assert(got == expect, s"pixel ($x,$y,$c) ch=$ch: $got != $expect")
      }
    }
  }

  test("PngCodec rejects truncation, header-only files, and non-PNGs") {
    val full = SyntheticMedia.pngFull(16, 9, 5)
    assert(PngCodec.decode(full).isDefined)
    // cut inside IDAT: inflate cannot complete -> None, never partial rows
    assert(PngCodec.decode(full.dropRight(20)).isEmpty)
    assert(PngCodec.decode(SyntheticMedia.png(16, 9)).isEmpty)  // no IDAT
    assert(PngCodec.decode(SyntheticMedia.jpeg(16, 9)).isEmpty)
    assert(PngCodec.decode(null).isEmpty)
    // PixelDecoder still probes headers and stays total on features
    assert(PixelDecoder.probe(full).contains(MediaDecoder.Info("png", 16, 9)))
    assert(PixelDecoder.features(full, 16).length == 16)
    assert(PixelDecoder.features(SyntheticMedia.gif(4, 4), 16).length == 16)
  }

  test("GifCodec: real LZW round-trips exactly, including hard cases") {
    def expectExact(w: Int, h: Int, idx: Array[Int],
                    pal: Array[Array[Byte]]): Unit = {
      val img = GifCodec.decode(SyntheticMedia.gifOf(w, h, idx, pal))
        .getOrElse(fail(s"decode failed ${w}x$h"))
      assert(img.width == w && img.height == h && img.channels == 3)
      for (k <- idx.indices; c <- 0 until 3)
        assert(img.pixels(3 * k + c) == pal(idx(k))(c),
          s"pixel $k ch $c mismatch")
    }
    val pal64 = Array.tabulate(64)(i => Array(
      ((i * 5 + 13) % 256).toByte, ((i * 9 + 7) % 256).toByte,
      ((i * 11 + 3) % 256).toByte))
    // uniform image: the classic KwKwK code stream
    expectExact(9, 7, Array.fill(63)(5), pal64)
    // ramp: dictionary hits + code-width growth past 128 entries
    expectExact(40, 30, Array.tabulate(1200)(k =>
      ((k % 40) * 3 + (k / 40) * 7 + 11) % 64), pal64)
    // random indices: maximal dictionary growth → 4096-entry clear-reset
    val rnd = new scala.util.Random(7)
    expectExact(200, 150, Array.fill(30000)(rnd.nextInt(64)), pal64)
    // small palette (4 entries, 3-bit min code)
    val pal4 = Array.tabulate(4)(i => Array((i * 60).toByte, (i * 3).toByte, i.toByte))
    expectExact(11, 6, Array.tabulate(66)(_ % 4), pal4)
    // truncation and pixel-less containers fail closed
    val full = SyntheticMedia.gifFull(12, 9, 17)
    assert(GifCodec.decode(full).isDefined)
    assert(GifCodec.decode(full.dropRight(15)).isEmpty)
    assert(GifCodec.decode(SyntheticMedia.gif(12, 9)).isEmpty) // no image data
    assert(GifCodec.decode(SyntheticMedia.png(12, 9)).isEmpty)
  }

  test("pixelStats decodes distributed; non-PNG rows yield nulls") {
    import spark.implicits._
    val media = Seq(
      (1L, SyntheticMedia.pngFull(10, 6, 3)),
      (2L, SyntheticMedia.jpeg(8, 8)),
      (3L, SyntheticMedia.pngFull(5, 5, 7, channels = 1)))
      .toDF("media_id", "payload")
    val out = Multimodal.pixelStats(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 10 && out(1L).getInt(2) == 6 &&
      out(1L).getInt(3) == 3)
    assert(out(2L).isNullAt(1) && out(2L).isNullAt(4))
    assert(out(3L).getInt(3) == 1)
    val means = out(3L).getAs[collection.Seq[Double]]("channel_means")
    val expected = (for (y <- 0 until 5; x <- 0 until 5)
      yield ((x * 3 + y * 7 + 7) % 256).toDouble).sum / 25.0
    assert(means.length == 1 && math.abs(means.head - expected) < 1e-12)
  }

  test("pixelFingerprints: re-encodings collide, distinct rasters do not") {
    import spark.implicits._
    // one raster, three containers: PNG of the GIF's palette-resolved
    // pixels, the GIF itself — plus a gray JPEG/PNG pair and a stranger
    val (w, h, seed) = (12, 9, 21)
    val media = Seq(
      (1L, SyntheticMedia.gifFull(w, h, seed)),
      (2L, SyntheticMedia.pngOf(w, h, 3, SyntheticMedia.gifRaster(w, h, seed))),
      (3L, SyntheticMedia.jpegFullGray(16, 16, 9)),
      (4L, SyntheticMedia.pngOf(16, 16, 1, SyntheticMedia.tileRaster(16, 16, 8, 9, 1))),
      (5L, SyntheticMedia.pngFull(12, 9, 22)),      // ≠ raster, same dims
      (6L, SyntheticAudio.wavFull(8000, 1, 4, 0)))  // not an image
      .toDF("media_id", "payload")
    val fp = Multimodal.pixelFingerprints(media).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(fp(1L).isDefined && fp(1L) == fp(2L)) // GIF == PNG re-encode
    assert(fp(3L).isDefined && fp(3L) == fp(4L)) // JPEG == PNG re-encode
    assert(fp(1L) != fp(5L) && fp(2L) != fp(5L))
    assert(fp(6L).isEmpty)
  }

  test("dhash: brightness-invariant, edit-local, format-independent") {
    import spark.implicits._
    def gray(w: Int, h: Int, seed: Int, bright: Int, noise: Option[(Int, Int)]) =
      SyntheticMedia.pngOf(w, h, 1, Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        (((x * 3 + y * 7 + seed) % 200) + bright +
          (if (noise.contains((x, y))) 40 else 0)).toByte
      })
    val media = Seq(
      (1L, gray(18, 12, 5, 0, None)),
      (2L, gray(18, 12, 5, 30, None)),          // uniform brightness shift
      (3L, gray(18, 12, 5, 0, Some((5, 3)))),   // one-pixel edit
      (4L, SyntheticMedia.gifFull(18, 12, 77)), // different content, GIF
      (5L, SyntheticMedia.png(8, 6)),           // header-only → undecodable
      (6L, gray(8, 6, 5, 0, None)))             // smaller than the 9×8 grid
      .toDF("media_id", "payload")
    val hs = Multimodal.dhash(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hs(1L).isDefined && hs(1L) == hs(2L)) // gradients unchanged by +30
    val d13 = java.lang.Long.bitCount(hs(1L).get ^ hs(3L).get)
    assert(d13 >= 1 && d13 <= 2, s"one-pixel edit flipped $d13 bits")
    assert(hs(4L).isDefined)
    assert(hs(5L).isEmpty && hs(6L).isEmpty)
    // pair search returns the near members, not the stranger
    val pairs = Multimodal.dhashNearDups(media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("audioFingerprint: gain-invariant, null below 65 frames, pairs found") {
    import spark.implicits._
    def wav(frames: Int, seed: Int, scale: Int) =
      SyntheticAudio.wavPcm(8000, 1, 16, Array.tabulate(frames) { f =>
        (((f * 37 + seed) % 4096) - 2048) * scale
      })
    val media = Seq(
      (1L, wav(800, 11, 1)),
      (2L, wav(800, 11, 2)),    // 2× gain — all window energies ×4
      (3L, wav(800, 2999, 1)),  // different phase/content
      (4L, wav(64, 11, 1)),     // too short for the 65-window grid
      (5L, Array[Byte](1, 2, 3))) // not a WAV
      .toDF("media_id", "payload")
    val hs = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hs(1L).isDefined && hs(1L) == hs(2L))
    assert(hs(3L).isDefined && hs(3L) != hs(1L))
    assert(hs(4L).isEmpty && hs(5L).isEmpty)
    val pairs = Multimodal.audioNearDups(media, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("fuzz: PNG/GIF bit flips and truncations never throw, only None/valid") {
    val rnd = new scala.util.Random(23)
    val png = SyntheticMedia.pngFull(14, 11, 3)
    val gif = SyntheticMedia.gifFull(13, 9, 41)
    for (_ <- 0 until 300) {
      for (base <- Seq(png, gif)) {
        val mut = base.clone()
        val i = rnd.nextInt(mut.length)
        mut(i) = (mut(i) ^ (1 << rnd.nextInt(8))).toByte
        PngCodec.decode(mut); GifCodec.decode(mut) // must not throw
        val cut = mut.take(rnd.nextInt(mut.length))
        PngCodec.decode(cut); GifCodec.decode(cut)
      }
    }
    // the review-found crash shapes: a GIF whose IMAGE DESCRIPTOR claims
    // 65535x65535 (iw*ih*3 wraps Int negative) and a PNG with an
    // undersized IHDR must return None, not throw
    val hugeGif = gif.clone()
    // descriptor at 6 (header) + 7 (LSD) + 192 (64-entry GCT): w at +5, h at +7
    assert((hugeGif(205) & 0xff) == 0x2c)
    for (k <- 210 to 213) hugeGif(k) = 0xff.toByte
    assert(GifCodec.decode(hugeGif).isEmpty)
    // 47 bytes: past the >=45 minimum-size gate, so the chunk walk really
    // reaches the undersized (len=2 < 13) IHDR guard
    val shortIhdr = PngCodec.Sig ++ Array[Byte](0, 0, 0, 2) ++
      "IHDR".getBytes("US-ASCII") ++ Array[Byte](0, 1) ++ Array.fill(29)(0.toByte)
    assert(PngCodec.decode(shortIhdr).isEmpty)
  }

  test("sampleFramePlan expands video durations at step") {
    val frames = Multimodal.sampleFramePlan(media, stepMs = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(frames.map(_._1).distinct.sameElements(Array(4L)))
    assert(frames.map(_._2).sameElements(Array(0L, 1000L, 2000L, 3000L)))
  }

  test("videoProbe reads MP4 duration, dims and track count; nulls otherwise") {
    import spark.implicits._
    val media = Seq(
      (1L, SyntheticVideo.mp4Of(1000, 7000, Seq((0, 0), (640, 360)))),
      (2L, Array[Byte](7, 7, 7)))
      .toDF("media_id", "payload")
    val out = Multimodal.videoProbe(media)
    assert(out.columns.toSeq ==
      Seq("media_id", "duration_ms", "vid_width", "vid_height", "n_tracks"))
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getLong(1) == 7000L && byId(1L).getInt(2) == 640 &&
      byId(1L).getInt(3) == 360 && byId(1L).getInt(4) == 2)
    assert((1 to 4).forall(byId(2L).isNullAt))
  }
}
