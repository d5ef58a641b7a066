package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DateFunctions._

import Shared._

/** Image, audio and video decoding, probing and media dedup. */
object MultimodalQueries {

  /** The PNG (ids 1-12) and GIF (ids 13-18) legs of the decode fixtures,
    * encoded from the generative pixel formulas. */
  private def pngGifMedia: Seq[(Long, Array[Byte])] =
    (1 to 12).map { i =>
      (i.toLong, graft.multimodal.SyntheticMedia.pngFull(
        8 + (i % 5) * 3, 6 + (i % 4) * 2, (i * 17) % 251))
    } ++ (13 to 18).map { i =>
      // GIF leg: real LZW decode + palette resolution (ids 13-18)
      (i.toLong, graft.multimodal.SyntheticMedia.gifFull(
        7 + (i % 4) * 5, 5 + (i % 3) * 4, (i * 29) % 101))
    }

  /** [[pngGifMedia]] in SQL: one (media_id, fmt, w, h, seed) row each. */
  private val PngGifImgs =
    """  SELECT i AS media_id, 'png' AS fmt, 8 + (i % 5) * 3 AS w,
      |         6 + (i % 4) * 2 AS h, (i * 17) % 251 AS seed
      |  FROM generate_series(1, 12) t(i)
      |  UNION ALL
      |  SELECT i, 'gif', 7 + (i % 4) * 5, 5 + (i % 3) * 4, (i * 29) % 101
      |  FROM generate_series(13, 18) t(i)""".stripMargin

  /** Every pixel (x, y) of each `imgs` image: CTEs `xs`, then `ys`. */
  private val PixelGridCtes =
    """xs AS (SELECT media_id, fmt, w, h, seed,
      |       unnest(generate_series(0, w - 1)) AS x FROM imgs),
      |ys AS (SELECT media_id, fmt, w, h, seed, x,
      |       unnest(generate_series(0, h - 1)) AS y FROM xs)""".stripMargin

  /** The 6-dp mean of decoded channel `n` (1-based), null past the
    * image's channel count. */
  private def chMean(n: Int): Column = when(size(col("channel_means")) >= n,
    round(element_at(col("channel_means"), n), 6))
  /** FULL-FRAME media decode, real for all three codec-free formats:
    * standards-valid PNGs (zlib IDAT, per-row filters cycling all five
    * types), GIFs (real LZW), and baseline JPEGs (Huffman + IDCT;
    * tile-constant rasters survive unit quantization bit-exactly) are
    * written from deterministic pixel formulas, decoded DISTRIBUTED by
    * the pure-JVM codecs, and the oracle recomputes the per-channel
    * means straight from the formulas — so chunk walking, inflate,
    * every PNG filter, LZW, Huffman entropy decode, dequant+IDCT,
    * restart markers, 4:2:0 upsampling, and the JFIF color transform
    * are all hash-verified, not spec-only. */
  private def mmPixelDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = (pngGifMedia ++ (19 to 24).map { i =>
      // grayscale JPEG leg: dims off the 8-grid exercise pad/crop; odd
      // seeds add restart markers (ids 19-24)
      (i.toLong, graft.multimodal.SyntheticMedia.jpegFullGray(
        9 + (i % 5) * 4, 7 + (i % 4) * 3, (i * 31) % 200))
    } ++ (25 to 30).map { i =>
      // 4:2:0 color JPEG leg: neutral chroma → RGB = luma exactly (ids 25-30)
      (i.toLong, graft.multimodal.SyntheticMedia.jpegFullColor(
        14 + (i % 3) * 9, 10 + (i % 2) * 13, (i * 23) % 150))
    }).toDF("media_id", "payload")
    graft.multimodal.Multimodal.pixelStats(media)
      .select(col("media_id"),
        col("px_width").cast("long").as("px_width"),
        col("px_height").cast("long").as("px_height"),
        chMean(1).as("mean_r"), chMean(2).as("mean_g"), chMean(3).as("mean_b"))
      .orderBy("media_id")
  }

  // full-frame decode: per-channel means recomputed from the generative
  // pixel formulas (mmPixelDecode encodes the same formulas
  // through deflate+filters / LZW / FDCT+Huffman; the engine must
  // reverse each codec to land on these numbers). JPEG legs are exact
  // because tile-constant blocks carry only a DC coefficient, which
  // unit quantization preserves bit-for-bit; the color leg's neutral
  // chroma makes the JFIF transform return R=G=B=Y exactly.
  private def mmPixelDecodeSql: String =
    s"""WITH imgs AS (
      |$PngGifImgs
      |  UNION ALL
      |  SELECT i, 'jgray', 9 + (i % 5) * 4, 7 + (i % 4) * 3, (i * 31) % 200
      |  FROM generate_series(19, 24) t(i)
      |  UNION ALL
      |  SELECT i, 'jcolor', 14 + (i % 3) * 9, 10 + (i % 2) * 13, (i * 23) % 150
      |  FROM generate_series(25, 30) t(i)),
      |$PixelGridCtes,
      |cells AS (SELECT media_id, w, h,
      |            CASE WHEN fmt = 'png'
      |              THEN (x * 3 + y * 7 + c * 11 + seed) % 256
      |              -- gif: palette-resolved ramp — index (x*3+y*7+seed)%64,
      |              -- palette channel c = (idx*(5|9|11) + (13|7|3)) % 256
      |            WHEN fmt = 'gif'
      |              THEN (((x * 3 + y * 7 + seed) % 64) * [5, 9, 11][c + 1]
      |                    + [13, 7, 3][c + 1]) % 256
      |              -- jpeg grayscale: 8x8-tile-constant luma, channel 0 only
      |            WHEN fmt = 'jgray'
      |              THEN CASE WHEN c = 0
      |                THEN ((x // 8) * 5 + (y // 8) * 11 + seed) % 256 END
      |              -- jpeg 4:2:0 neutral-chroma: R=G=B = 16x16-tile luma
      |              ELSE ((x // 16) * 5 + (y // 16) * 11 + seed) % 256
      |            END AS v, c
      |          FROM (SELECT *, unnest([0, 1, 2]) AS c FROM ys))
      |SELECT media_id, CAST(w AS BIGINT) AS px_width, CAST(h AS BIGINT) AS px_height,
      |  round(avg(CASE WHEN c = 0 THEN v END), 6) AS mean_r,
      |  round(avg(CASE WHEN c = 1 THEN v END), 6) AS mean_g,
      |  round(avg(CASE WHEN c = 2 THEN v END), 6) AS mean_b
      |FROM cells GROUP BY media_id, w, h ORDER BY media_id""".stripMargin

  /** FULL audio decode, the WAV leg of multimodal: real RIFF/PCM
    * containers built from an integer sample formula, decoded
    * DISTRIBUTED by the pure-JVM `WavCodec` (chunk walk, PCM sample
    * extraction); the oracle replays frame counts, integer-division
    * durations, and RMS from the same formula (sample squares are exact
    * integers, so the float RMS matches bit-for-bit). */
  private def mmAudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = (1 to 10).map { i =>
      (i.toLong, graft.multimodal.SyntheticAudio.wavFull(
        Seq(8000, 16000, 22050, 44100)(i % 4), 1 + (i % 3),
        100 + (i % 5) * 77, (i * 13) % 97))
    }.toDF("media_id", "payload")
    graft.multimodal.Multimodal.audioStats(media)
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_channels").cast("long").as("n_channels"),
        col("n_frames"), col("duration_ms"),
        round(col("rms"), 6).as("rms_r"))
      .orderBy("media_id")
  }

  // WAV decode: frames/duration/RMS recomputed from the generative
  // sample formula (v² is an exact integer, so avg/sqrt match the
  // engine's doubles bit-for-bit)
  private def mmAudioDecodeSql: String =
    """WITH clips AS (
      |  SELECT i AS media_id,
      |         ([8000, 16000, 22050, 44100])[(i % 4) + 1] AS rate,
      |         1 + (i % 3) AS ch, 100 + (i % 5) * 77 AS frames,
      |         (i * 13) % 97 AS seed
      |  FROM generate_series(1, 10) t(i)),
      |vals AS (
      |  SELECT media_id, rate, ch, frames,
      |         ((k * 37 + seed) % 4096) - 2048 AS v
      |  FROM (SELECT *, unnest(generate_series(0, frames * ch - 1)) AS k
      |        FROM clips))
      |SELECT media_id, CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(ch AS BIGINT) AS n_channels, CAST(frames AS BIGINT) AS n_frames,
      |  CAST(frames * 1000 // rate AS BIGINT) AS duration_ms,
      |  round(sqrt(avg(v * v)), 6) AS rms_r
      |FROM vals GROUP BY media_id, rate, ch, frames ORDER BY media_id""".stripMargin

  /** Video container probe, the MP4 leg of multimodal: real ISO-BMFF
    * box walking (`Mp4Probe` — mvhd v0/v1 duration, tkhd fixed-point
    * dims, non-visual-track skip) over synthetic containers built from
    * integer formulas; the oracle replays the timescale arithmetic.
    * Frame decode needs codec libraries (documented seam); the
    * container metadata a frame-sampling plan consumes is parsed from
    * real bytes, distributed. */
  private def mmVideoProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = (1 to 8).map { i =>
      val ts = Seq(600L, 1000L, 90000L, 48000L)(i % 4)
      val dims = (320 + i * 16, 180 + i * 9)
      (i.toLong, graft.multimodal.SyntheticVideo.mp4Of(
        ts, ts * (10 + i) + i * 7,
        if (i % 3 == 0) Seq((0, 0), dims) else Seq(dims),
        mvhdV1 = i % 2 == 1))
    }.toDF("media_id", "payload")
    graft.multimodal.Multimodal.videoProbe(media)
      .select(col("media_id"), col("duration_ms"),
        col("vid_width").cast("long").as("vid_width"),
        col("vid_height").cast("long").as("vid_height"),
        col("n_tracks").cast("long").as("n_tracks"))
      .orderBy("media_id")
  }

  // MP4 probe: duration/dims/track-count recomputed from the same
  // integer formulas the synthetic containers encode (timescale
  // division is integer on both sides)
  private def mmVideoProbeSql: String =
    """SELECT i AS media_id,
      |  CAST((([600, 1000, 90000, 48000])[(i % 4) + 1] * (10 + i) + i * 7)
      |       * 1000 // ([600, 1000, 90000, 48000])[(i % 4) + 1] AS BIGINT)
      |    AS duration_ms,
      |  CAST(320 + i * 16 AS BIGINT) AS vid_width,
      |  CAST(180 + i * 9 AS BIGINT) AS vid_height,
      |  CAST(CASE WHEN i % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks
      |FROM generate_series(1, 8) t(i) ORDER BY media_id""".stripMargin

  /** Cross-format media dedup: the SAME raster encoded as PNG, GIF, and
    * baseline JPEG (plus gray PNG↔JPEG pairs and singletons) is found
    * duplicate by DECODED-content fingerprint — byte-level hashing can
    * never match these, the encodings share no bytes. Composes
    * `Multimodal.pixelFingerprints` with the standard
    * `Dedup.exactDuplicates` operator (one hash shuffle). The oracle
    * recomputes duplicate groups INDEPENDENTLY by materializing each
    * id's raster from its generative formula and grouping on the full
    * pixel sequence. */
  private def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.multimodal.{SyntheticAudio, SyntheticMedia}
    import SyntheticMedia.{gifRaster, tileRaster}
    val media = (
      // ids 1-8: GIF + PNG pairs over the same palette-resolved raster
      (0 to 3).flatMap { k =>
        val (w, h, seed) = (11 + k, 7 + k, 10 + 7 * k)
        Seq((2 * k + 1L, SyntheticMedia.gifFull(w, h, seed)),
          (2 * k + 2L, SyntheticMedia.pngOf(w, h, 3, gifRaster(w, h, seed))))
      } ++ {
        // ids 9-12: gray JPEG + gray PNG pairs over the same 8-tile raster
        Seq((16, 16, 101, 9L), (24, 9, 33, 11L)).flatMap { case (w, h, seed, id) =>
          Seq((id, SyntheticMedia.jpegFullGray(w, h, seed)),
            (id + 1, SyntheticMedia.pngOf(w, h, 1, tileRaster(w, h, 8, seed, 1))))
        }
      } ++ {
        // ids 13-15: ONE raster, THREE formats — PNG, GIF, 4:2:0 JPEG
        val raster = tileRaster(32, 32, 16, 77, 3)
        val grays = raster.grouped(3).map(_(0)).toArray
        val vals = grays.distinct.sorted
        val pal = Array.tabulate(4)(i =>
          { val v = vals(math.min(i, vals.length - 1)); Array(v, v, v) })
        Seq((13L, SyntheticMedia.pngOf(32, 32, 3, raster)),
          (14L, SyntheticMedia.gifOf(32, 32, grays.map(vals.indexOf(_)), pal)),
          (15L, SyntheticMedia.jpegFullColor(32, 32, 77)))
      } ++ Seq(
        // ids 16-18: singletons; id 19: non-image (null fingerprint)
        (16L, SyntheticMedia.pngFull(10, 6, 200)),
        (17L, SyntheticMedia.gifFull(9, 8, 55)),
        (18L, SyntheticMedia.jpegFullGray(17, 11, 66)),
        (19L, SyntheticAudio.wavFull(8000, 1, 16, 4)))
      ).toDF("media_id", "payload")
    val fps = graft.multimodal.Multimodal.pixelFingerprints(media)
      .filter(col("pixel_fp").isNotNull)
    graft.operators.Dedup.exactDuplicates(fps, idCol = "media_id", textCol = "pixel_fp")
      .select(col("keeper").cast("long").as("keeper"),
        col("n_dups").cast("long").as("n_copies"),
        array_join(col("dup_ids").cast("array<string>"), ",").as("member_ids"))
      .orderBy("keeper")
  }

  // cross-format media dedup: duplicate groups recomputed INDEPENDENTLY
  // by materializing every id's decoded raster from its generative
  // formula (GIF palette arithmetic, 8/16-pixel gray tiles, PNG ramp)
  // and grouping ids on the full ordered pixel sequence + dimensions —
  // the engine must land on identical groups via decoded-content hashes
  private def mediaDedupSql: String =
    """WITH geom AS (
      |  SELECT i AS id,
      |    CASE WHEN i <= 8 THEN 11 + (i - 1) // 2
      |         WHEN i <= 10 THEN 16 WHEN i <= 12 THEN 24
      |         WHEN i <= 15 THEN 32
      |         WHEN i = 16 THEN 10 WHEN i = 17 THEN 9 ELSE 17 END AS w,
      |    CASE WHEN i <= 8 THEN 7 + (i - 1) // 2
      |         WHEN i <= 10 THEN 16 WHEN i <= 12 THEN 9
      |         WHEN i <= 15 THEN 32
      |         WHEN i = 16 THEN 6 WHEN i = 17 THEN 8 ELSE 11 END AS h,
      |    CASE WHEN i <= 8 THEN 3 WHEN i <= 12 THEN 1 WHEN i <= 15 THEN 3
      |         WHEN i = 16 THEN 3 WHEN i = 17 THEN 3 ELSE 1 END AS ch,
      |    CASE WHEN i <= 8 OR i = 17 THEN 'gifpal'
      |         WHEN i <= 12 OR i = 18 THEN 'gray8'
      |         WHEN i <= 15 THEN 'gray16'
      |         ELSE 'pngramp' END AS fmt,
      |    CASE WHEN i <= 8 THEN 10 + 7 * ((i - 1) // 2)
      |         WHEN i <= 10 THEN 101 WHEN i <= 12 THEN 33
      |         WHEN i <= 15 THEN 77
      |         WHEN i = 16 THEN 200 WHEN i = 17 THEN 55 ELSE 66 END AS seed
      |  FROM generate_series(1, 18) t(i)),
      |xs AS (SELECT *, unnest(generate_series(0, w - 1)) AS x FROM geom),
      |ys AS (SELECT *, unnest(generate_series(0, h - 1)) AS y FROM xs),
      |cells AS (
      |  SELECT id, w, h, ch, x, y, c,
      |    CASE fmt
      |      WHEN 'gifpal' THEN (((x * 3 + y * 7 + seed) % 64) * [5, 9, 11][c + 1]
      |                          + [13, 7, 3][c + 1]) % 256
      |      WHEN 'gray8'  THEN ((x // 8) * 5 + (y // 8) * 11 + seed) % 256
      |      WHEN 'gray16' THEN ((x // 16) * 5 + (y // 16) * 11 + seed) % 256
      |      ELSE (x * 3 + y * 7 + c * 11 + seed) % 256
      |    END AS v
      |  FROM (SELECT *, unnest(generate_series(0, ch - 1)) AS c FROM ys)),
      |rasters AS (
      |  SELECT id, w || 'x' || h || 'x' || ch || ':' ||
      |         string_agg(v::VARCHAR, ',' ORDER BY y, x, c) AS raster
      |  FROM cells GROUP BY id, w, h, ch)
      |SELECT CAST(min(id) AS BIGINT) AS keeper,
      |  CAST(count(*) AS BIGINT) AS n_copies,
      |  string_agg(id::VARCHAR, ',' ORDER BY id) AS member_ids
      |FROM rasters GROUP BY raster HAVING count(*) > 1
      |ORDER BY keeper""".stripMargin

  /** Perceptual-hash image near-dup: grayscale PNGs from the integer
    * formula `((x*3 + y*7 + seed) % 200) + bright (+40 noise pixel)` —
    * real PNG encode/decode on the engine side, formula replay on the
    * oracle side. Brightness-shifted members hash identically (dHash is
    * gradient-based); the noise member differs in ≤2 bits; distinct
    * seeds land far apart. */
  private def dhashNearDupQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def png(w: Int, h: Int, seed: Int, bright: Int, noise: Option[(Int, Int)]) =
      graft.multimodal.SyntheticMedia.pngOf(w, h, 1, Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        (((x * 3 + y * 7 + seed) % 200) + bright +
          (if (noise.contains((x, y))) 40 else 0)).toByte
      })
    val media = Seq(
      (100L, png(18, 12, 5, 0, None)),
      (101L, png(18, 12, 5, 20, None)),          // +brightness → hamming 0
      (102L, png(18, 12, 5, 0, Some((5, 3)))),   // 1-px edit → ≤2 bits
      (110L, png(27, 16, 60, 0, None)),
      (111L, png(27, 16, 60, 20, None)),
      (120L, png(11, 9, 140, 0, None)),
      (121L, png(11, 9, 140, 20, None))
    ).toDF("media_id", "payload")
    graft.multimodal.Multimodal.dhashNearDups(media, maxHamming = 8)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** mm_dhash_neardup: replay the perceptual hash from the pixel formula
    * — the engine decodes real PNGs to these exact samples, so the
    * formula-side 9×8 integer average-pool, adjacent-compare bits, and
    * all-pairs Hamming reproduce its banded output (banding is
    * exact-recall at ≤ maxHamming). */
  private def dhashNearDupSql: String =
    """WITH imgs(id, w, h, seed, bright, nx, ny) AS (VALUES
      |  (100, 18, 12,   5,  0, -1, -1),
      |  (101, 18, 12,   5, 20, -1, -1),
      |  (102, 18, 12,   5,  0,  5,  3),
      |  (110, 27, 16,  60,  0, -1, -1),
      |  (111, 27, 16,  60, 20, -1, -1),
      |  (120, 11,  9, 140,  0, -1, -1),
      |  (121, 11,  9, 140, 20, -1, -1)),
      |px AS (
      |  SELECT id, w, h, x, y,
      |    ((x*3 + y*7 + seed) % 200) + bright +
      |      CASE WHEN x = nx AND y = ny THEN 40 ELSE 0 END AS luma
      |  FROM imgs, unnest(range(0, w)) t1(x), unnest(range(0, h)) t2(y)),
      |cells AS (
      |  SELECT id, (x*9) // w AS cx, (y*8) // h AS cy,
      |    CAST(sum(luma) AS BIGINT) // count(*) AS v
      |  FROM px GROUP BY id, (x*9) // w, (y*8) // h),
      |bits AS (
      |  SELECT a.id,
      |    CASE WHEN a.v > b.v THEN CAST(1 AS UBIGINT) << (a.cy*8 + a.cx)
      |         ELSE CAST(0 AS UBIGINT) END AS bit
      |  FROM cells a JOIN cells b
      |    ON a.id = b.id AND a.cy = b.cy AND b.cx = a.cx + 1),
      |hashes AS (SELECT id, bit_or(bit) AS sh FROM bits GROUP BY id)
      |SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
      |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |FROM hashes a JOIN hashes b ON a.id < b.id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 8
      |ORDER BY id_a, id_b""".stripMargin

  /** Acoustic near-dup fingerprinting: real 16-bit PCM WAV containers
    * from the integer sawtooth `((f·37+seed)%4096)−2048`, scaled (gain)
    * and locally perturbed — decode on the engine side, formula replay
    * on the oracle side. Gain-doubled members hash identically; the
    * one-frame edit flips ≤2 bits. */
  private def audioFpQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def wav(frames: Int, seed: Int, scale: Int, noiseF: Int) =
      graft.multimodal.SyntheticAudio.wavPcm(8000, 1, 16, Array.tabulate(frames) { f =>
        (((f * 37 + seed) % 4096) - 2048) * scale +
          (if (f == noiseF) 500 else 0)
      })
    val media = Seq(
      (200L, wav(800, 11, 1, -1)),
      (201L, wav(800, 11, 2, -1)),   // 2× gain → hamming 0
      (202L, wav(800, 11, 1, 100)),  // one-frame edit → ≤2 bits
      (210L, wav(650, 400, 1, -1)),
      (211L, wav(650, 400, 2, -1)),
      (220L, wav(800, 999, 1, -1))
    ).toDF("media_id", "payload")
    graft.multimodal.Multimodal.audioNearDups(media, maxHamming = 6)
      .withColumn("hamming", col("hamming").cast("long"))
      .orderBy("id_a", "id_b")
  }

  /** mm_audio_fingerprint: replay the windowed-energy gradient hash from
    * the PCM sample formula — 65 windows of mean energy (integer floor
    * division), adjacent-compare bits, all-pairs Hamming. */
  private def audioFpSql: String =
    """WITH clips(id, frames, seed, scale, nf) AS (VALUES
      |  (200, 800,  11, 1,  -1),
      |  (201, 800,  11, 2,  -1),
      |  (202, 800,  11, 1, 100),
      |  (210, 650, 400, 1,  -1),
      |  (211, 650, 400, 2,  -1),
      |  (220, 800, 999, 1,  -1)),
      |sm AS (
      |  SELECT id, frames, f,
      |    (((f*37 + seed) % 4096) - 2048) * scale +
      |      CASE WHEN f = nf THEN 500 ELSE 0 END AS s
      |  FROM clips, unnest(range(0, frames)) t(f)),
      |wn AS (
      |  SELECT id, (f*65) // frames AS w,
      |    CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) // count(*) AS e
      |  FROM sm GROUP BY id, (f*65) // frames),
      |bits AS (
      |  SELECT a.id,
      |    CASE WHEN a.e > b.e THEN CAST(1 AS UBIGINT) << a.w
      |         ELSE CAST(0 AS UBIGINT) END AS bit
      |  FROM wn a JOIN wn b ON a.id = b.id AND b.w = a.w + 1),
      |hashes AS (SELECT id, bit_or(bit) AS sh FROM bits GROUP BY id)
      |SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
      |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
      |FROM hashes a JOIN hashes b ON a.id < b.id
      |WHERE bit_count(xor(a.sh, b.sh)) <= 6
      |ORDER BY id_a, id_b""".stripMargin

  /** Multimodal surface: media relation derived deterministically from
    * `documents` (payload = UTF-8 bytes of text) so the binary-column
    * plumbing — octet length, payload digest, magic-byte sniff — has a
    * DuckDB-expressible oracle. Real media only changes the payload bytes.
    */
  private def mediaStats(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("modality"),
      lit(null).cast("string").as("mime"),
      encode(col("text"), "UTF-8").as("payload"),
      lit(null).cast("struct<width:int,height:int,duration_ms:bigint>").as("meta"))
    graft.multimodal.Multimodal.mediaStats(media)
      .withColumn("n_bytes", col("n_bytes").cast("long"))
      .orderBy("media_id")
  }

  /** mm_media_stats: binary-column probe over the documents-derived media
    * relation (payload = UTF-8 text bytes; DuckDB md5/hex hash the same
    * bytes). */
  private def mediaStatsSql: String =
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  substr(hex(text), 1, 8) AS magic
      |FROM documents ORDER BY media_id""".stripMargin

  /** Multimodal frame-sampling plan: video rows (doc_id % 3 == 2) with a
    * deterministic duration (n_chars × 100 ms), one frame per second —
    * the relational expansion is verified per media id. */
  private def framePlan(s: SparkSession, dir: String): DataFrame = {
    val media = t(s, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"), lit("video").as("modality"),
        lit(null).cast("string").as("mime"),
        encode(col("text"), "UTF-8").as("payload"),
        struct(lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          (col("n_chars").cast("long") * 100L).as("duration_ms")).as("meta"))
    graft.multimodal.Multimodal.sampleFramePlan(media, stepMs = 1000L)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"), max(col("frame_offset_ms")).as("last_offset_ms"))
      .orderBy("media_id")
  }

  private def framePlanSql: String =
    """SELECT doc_id AS media_id,
      |  CAST((n_chars * 100) // 1000 + 1 AS BIGINT) AS n_frames,
      |  CAST(((n_chars * 100) // 1000) * 1000 AS BIGINT) AS last_offset_ms
      |FROM documents WHERE doc_id % 3 = 2 ORDER BY media_id""".stripMargin

  /** Multimodal header decode, oracle-verified with REAL byte parsing:
    * payloads are valid PNG/JPEG/GIF containers synthesized from
    * (doc_id, n_chars) arithmetic (bounded fixture: 61 rows built
    * driver-side), the engine parses dimensions back OUT of the bytes
    * distributed (`Multimodal.probeHeaders` / `HeaderDecoder` — BE32 IHDR,
    * JPEG SOF marker walk over a real APP0 segment, LE16 GIF screen), and
    * DuckDB recomputes the expected dimensions from the same arithmetic,
    * never touching the bytes. A parser bug on any endianness/offset
    * breaks the hash. */
  private def decodeProbe(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val src = t(s, dir, "documents").filter(col("doc_id") <= 60)
      .select(col("doc_id"), col("n_chars")).collect()
    val rows = src.map { r =>
      val (id, n) = (r.getAs[Number](0).longValue(), r.getAs[Number](1).intValue())
      val (w, h) = ((n % 640 + 16), (n % 480 + 16))
      val payload = (id % 3) match {
        case 0 => graft.multimodal.SyntheticMedia.png(w, h)
        case 1 => graft.multimodal.SyntheticMedia.jpeg(w, h)
        case _ => graft.multimodal.SyntheticMedia.gif(w, h)
      }
      org.apache.spark.sql.Row(id, "image", null, payload, null)
    }
    val media = s.createDataFrame(
      s.sparkContext.parallelize(rows.toIndexedSeq, 4),
      graft.multimodal.Multimodal.mediaSchema)
    graft.multimodal.Multimodal.probeHeaders(media)
      .select(col("media_id"), col("format"),
        col("img_width").cast("long").as("img_width"),
        col("img_height").cast("long").as("img_height"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .orderBy("media_id")
  }

  // Expected dimensions recomputed from the generating arithmetic —
  // the engine side must parse them back out of real container bytes.
  // n_bytes are the SyntheticMedia format constants (png 33, jpeg 35,
  // gif 14).
  private def decodeProbeSql: String =
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
      |  CAST(n_chars % 640 + 16 AS BIGINT) AS img_width,
      |  CAST(n_chars % 480 + 16 AS BIGINT) AS img_height,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 35 ELSE 14 END AS BIGINT) AS n_bytes
      |FROM documents WHERE doc_id <= 60
      |ORDER BY media_id""".stripMargin

  /** Box-filter resize over REAL decoded rasters (PNG inflate+unfilter,
    * GIF LZW — [[graft.multimodal.Multimodal.resizeStats]]): per-image
    * resized dims, channel means of the resized raster, exact integer
    * checksum; the oracle replays the truncating box average from the
    * generative pixel formulas. */
  private def mmResizeQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = pngGifMedia.toDF("media_id", "payload")
    graft.multimodal.Multimodal.resizeStats(media, factor = 2)
      .select(col("media_id"),
        col("rs_width").cast("long").as("rs_width"),
        col("rs_height").cast("long").as("rs_height"),
        chMean(1).as("mean_r"), chMean(2).as("mean_g"), chMean(3).as("mean_b"),
        col("checksum"))
      .orderBy("media_id")
  }

  /** mm_resize: replay real-decode box resize from the generative pixel
    * formulas — truncating per-block integer mean, channel means over
    * the resized raster, exact checksum. */
  private def mmResizeSql: String =
    s"""WITH imgs AS (
      |$PngGifImgs),
      |$PixelGridCtes,
      |cells AS (SELECT media_id, w, h, x, y, c,
      |            CASE WHEN fmt = 'png'
      |              THEN (x * 3 + y * 7 + c * 11 + seed) % 256
      |              ELSE (((x * 3 + y * 7 + seed) % 64) * [5, 9, 11][c + 1]
      |                    + [13, 7, 3][c + 1]) % 256
      |            END AS v
      |          FROM (SELECT *, unnest([0, 1, 2]) AS c FROM ys)),
      |rs AS (SELECT media_id, w, h, x // 2 AS bx, y // 2 AS by, c,
      |         CAST(sum(v) AS BIGINT) // count(*) AS rv
      |       FROM cells GROUP BY media_id, w, h, x // 2, y // 2, c)
      |SELECT media_id, CAST((w + 1) // 2 AS BIGINT) AS rs_width,
      |  CAST((h + 1) // 2 AS BIGINT) AS rs_height,
      |  round(avg(CASE WHEN c = 0 THEN rv END), 6) AS mean_r,
      |  round(avg(CASE WHEN c = 1 THEN rv END), 6) AS mean_g,
      |  round(avg(CASE WHEN c = 2 THEN rv END), 6) AS mean_b,
      |  CAST(sum(rv) AS BIGINT) AS checksum
      |FROM rs GROUP BY media_id, w, h ORDER BY media_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_pixel_decode", mmPixelDecode, mmPixelDecodeSql),
    QuerySpec("mm_audio_decode", mmAudioDecode, mmAudioDecodeSql),
    QuerySpec("mm_video_probe", mmVideoProbe, mmVideoProbeSql),
    QuerySpec("d_media_dedup", mediaDedup, mediaDedupSql),
    QuerySpec("mm_dhash_neardup", dhashNearDupQ, dhashNearDupSql),
    QuerySpec("mm_audio_fingerprint", audioFpQ, audioFpSql),
    QuerySpec("mm_media_stats", mediaStats, mediaStatsSql),
    QuerySpec("mm_frame_plan", framePlan, framePlanSql),
    QuerySpec("mm_decode_probe", decodeProbe, decodeProbeSql),
    QuerySpec("mm_resize", mmResizeQ, mmResizeSql))
}
