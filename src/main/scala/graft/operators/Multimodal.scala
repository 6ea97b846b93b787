package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A media blob: how image/audio/video travel through the engine —
  * an opaque binary column plus typed metadata.
  */
final case class MediaFile(media_id: Long, payload: Array[Byte],
                           mime: String)

/** Features extracted from a decoded media blob. */
final case class MediaFeatures(media_id: Long, mime: String,
                               n_bytes: Int, width: Int, height: Int,
                               brightness: Double)

/** Features extracted from a decoded audio blob: `mean_abs` is the
  * mean absolute amplitude normalized to [0,1] (|sample|/32768). */
final case class AudioFeatures(media_id: Long, mime: String,
                               sample_rate: Int, n_samples: Int,
                               duration_sec: Double, mean_abs: Double)

/** One SAMPLED frame of a decoded video stream: `luma_sum` is the
  * exact integer sum of the frame's Y plane (order-independent under
  * downstream aggregation), `mean_luma` the normalized mean in [0,1].
  */
final case class VideoFrame(media_id: Long, mime: String, width: Int,
                            height: Int, n_frames: Int, frame_idx: Int,
                            luma_sum: Long, mean_luma: Double)

/** Multimodal column plumbing (SURVEY.md §2.11): image/audio/video as
  * opaque `binary` columns with typed metadata. PPM (P6), PNG (RGB8),
  * JPEG and PCM/ADPCM WAV travel through REAL codecs ([[MediaCodec]] —
  * header parse, CRC checks, zlib inflate, filter reversal, and the
  * JDK's ImageIO JPEG reader and writer); only video
  * containers remain STUBBED ([[decodeFeatures]]) with a deterministic
  * fake so that pipeline shape stays testable without codec libraries.
  *
  * Scale posture: decode runs per partition over an iterator
  * (`mapPartitions`), and no row or batch ever reaches the driver. The
  * codecs keep no state across rows (JPEG takes and disposes one
  * ImageIO reader or writer per blob).
  */
object Multimodal {

  /** Manufacture a binary-media table from the documents table (the
    * container ships no real media): payload = UTF-8 bytes, plus a
    * metadata struct. At 100 TB the payload column stays columnar
    * parquet binary and is pruned unless referenced.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(lit("text/plain").as("mime"), lit("synthetic").as("origin"))
        .as("meta"))

  /** STUB decoder: a real implementation would decode the image/audio
    * codec here (as [[decodeImageFeatures]] does per blob). The fake
    * derives deterministic pseudo-features from the raw bytes so the
    * pipeline shape — partition-iterator in, typed features out — is
    * fully exercised and testable.
    */
  def decodeFeatures(files: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      // per-partition "codec init" would happen here, once
      it.map { m =>
        val n = m.payload.length
        val headSum = m.payload.take(16).map(_ & 0xff).sum
        MediaFeatures(
          media_id = m.media_id,
          mime = m.mime,
          n_bytes = n,
          width = 64 + n % 64,
          height = 64 + (n / 2) % 64,
          brightness = (headSum % 256) / 255.0)
      }
    }
  }

  /** Each document's UTF-8 bytes as the RGB raster of an 8-pixel-wide
    * image, zero-padded to fill the last row, written by `encode` —
    * the payload is a genuine encoded file, so the decode side
    * genuinely parses. The raster is identical for every codec, so
    * decoded features are codec-invariant up to a lossy codec's error.
    * Encoding runs per partition; nothing reaches the driver.
    */
  private def rasterMedia(docs: DataFrame, mime: String)(
      encode: (Int, Int, Array[Byte]) => Array[Byte]): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val data = text.getBytes("UTF-8")
        val h = data.length / 24 + 1
        MediaFile(id, encode(8, h, java.util.Arrays.copyOf(data, 24 * h)), mime)
      })
  }

  /** REAL-codec media table as binary PPM (P6) images
    * ([[MediaCodec.encodePpm]] writes the actual header+raster bytes).
    */
  def toPpmMedia(docs: DataFrame): Dataset[MediaFile] =
    rasterMedia(docs, "image/x-portable-pixmap")(MediaCodec.encodePpm)

  /** REAL-codec media table, PNG edition of [[toPpmMedia]]: the same
    * raster, deflate-compressed into a genuine PNG file
    * ([[MediaCodec.encodePng]] — IHDR/IDAT/IEND with real CRC-32s; the
    * payload opens in any viewer). What changes is the container and
    * the compression, which the decode side must genuinely undo.
    */
  def toPngMedia(docs: DataFrame): Dataset[MediaFile] =
    rasterMedia(docs, "image/png")(MediaCodec.encodePng)

  /** REAL-codec media table, JPEG edition of [[toPpmMedia]]: the same
    * raster, written as a JFIF file by the JDK's ImageIO JPEG writer at
    * `quality` ([[MediaCodec.encodeJpeg]]). JPEG is LOSSY — dimensions
    * survive exactly, pixel statistics to within quantization error,
    * which is exactly what q146's bounded-error oracle certifies.
    */
  def toJpegMedia(docs: DataFrame, quality: Int = 90): Dataset[MediaFile] =
    rasterMedia(docs, "image/jpeg")(MediaCodec.encodeJpeg(_, _, _, quality))

  /** REAL image decode, dispatching on the FILE's magic bytes (not the
    * claimed mime): PNG signature → [[MediaCodec.decodePng]] (CRC
    * walk, inflate, filter reversal), JPEG SOI → [[MediaCodec
    * .decodeJpeg]] (the JDK's ImageIO JPEG reader; any reader warning
    * rejects the file), `P6` → [[MediaCodec.decodePpm]]
    * (header parse, exact raster length). Dimensions and brightness
    * come from the DECODED raster, not byte heuristics. Corrupt or
    * unrecognized payloads are dropped (the decoder's reason is
    * available to quarantine flows; MultimodalSpec covers the
    * rejection paths) instead of decoding to garbage. Partition
    * iterator in, typed features out — the same 100 TB shape as the
    * stub path, now with working codecs.
    */
  def decodeImageFeatures(files: Dataset[MediaFile]): Dataset[MediaFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      it.flatMap { m =>
        val decoded =
          if (m.payload.length >= 8 && (m.payload(0) & 0xff) == 0x89 &&
              m.payload(1) == 'P')
            MediaCodec.decodePng(m.payload)
          else if (m.payload.length >= 2 && (m.payload(0) & 0xff) == 0xff &&
              (m.payload(1) & 0xff) == 0xd8)
            MediaCodec.decodeJpeg(m.payload)
          else
            MediaCodec.decodePpm(m.payload)
        decoded.toOption.map(img => imageFeatures(m, m.payload.length, img))
      }
    }
  }

  /** Features of a decoded raster: its dimensions and mean channel
    * value in [0, 1]; `nBytes` is the size of the file it came from. */
  private def imageFeatures(m: MediaFile, nBytes: Int,
                            img: MediaCodec.Image): MediaFeatures = {
    var sum = 0L
    img.pixels.foreach(b => sum += (b & 0xff))
    MediaFeatures(m.media_id, m.mime, nBytes, img.width, img.height,
      sum.toDouble / (img.pixels.length * 255.0))
  }

  /** RESIZE inside the partition iterator — the preprocessing step of
    * an image-training pipeline: nearest-neighbor downsample by
    * `factor` (output pixel (x,y) = input pixel (factor·x, factor·y),
    * ceil-divided dims so 1-pixel tails survive), then RE-ENCODE and
    * RE-DECODE through the real PPM codec so the emitted features
    * certify that the resized artifact is itself a valid image — not
    * just an in-memory array. Full-size rasters never leave the
    * iterator (the [[sampleVideoFrames]] discipline); corrupt
    * payloads drop, never garbage-decode. `n_bytes` is the RESIZED
    * file's size.
    */
  def resizeImageFeatures(files: Dataset[MediaFile], factor: Int = 2)
      : Dataset[MediaFeatures] = {
    require(factor >= 1, "resize factor must be >= 1")
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      it.flatMap { m =>
        MediaCodec.decodePpm(m.payload).toOption.flatMap { img =>
          val nw = (img.width + factor - 1) / factor
          val nh = (img.height + factor - 1) / factor
          val out = new Array[Byte](nw * nh * 3)
          var y = 0
          while (y < nh) {
            var x = 0
            while (x < nw) {
              val src = 3 * (y * factor * img.width + x * factor)
              val dst = 3 * (y * nw + x)
              out(dst) = img.pixels(src)
              out(dst + 1) = img.pixels(src + 1)
              out(dst + 2) = img.pixels(src + 2)
              x += 1
            }
            y += 1
          }
          val reenc = MediaCodec.encodePpm(nw, nh, out)
          MediaCodec.decodePpm(reenc).toOption
            .map(r => imageFeatures(m, reenc.length, r))
        }
      }
    }
  }

  /** REAL-codec media table, COMPRESSED-AUDIO edition: each document's
    * UTF-8 bytes become a deterministic mono PCM signal — byte j maps
    * to target level `(b_j - 128) * 256`, and each byte contributes 16
    * samples RAMPING linearly from the previous byte's level (the
    * first byte's segment is flat). A staircase would defeat the
    * ADPCM quantizer by design: during a hold its step size decays to
    * the minimum, so every transition restarts adaptation from
    * nothing and the decoded mean is systematically biased low; the
    * ramp keeps the slope inside the quantizer's tracking range,
    * which is the signal shape ADPCM was built for (speech deltas).
    * The per-sample values are exact integers (`(b_j - b_{j-1})*16*k`
    * increments), so the signal's mean |amplitude| has a closed form
    * the oracle recomputes from the text:
    * `sum_samples = 16*Σp_j + 7.5*(p_1 - p_n)`.
    *
    * The signal is then genuinely compressed with mono IMA ADPCM
    * ([[MediaCodec.encodeWavAdpcm]] — 4 bits/sample, real 4:1 lossy
    * entropy reduction, WAV format tag 0x0011; the payload plays in
    * any player). ADPCM is LOSSY, so amplitude statistics survive
    * only to within quantizer tracking error — exactly what q147's
    * bounded-error oracle certifies.
    */
  def toAdpcmMedia(docs: DataFrame, sampleRate: Int = 16000,
                   samplesPerByte: Int = 16): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val data = text.getBytes("UTF-8")
          val samples = new Array[Short](data.length * samplesPerByte)
          var i = 0
          var prev = if (data.isEmpty) 0 else ((data(0) & 0xff) - 128) * 256
          while (i < data.length) {
            val cur = ((data(i) & 0xff) - 128) * 256
            val inc = (cur - prev) / samplesPerByte // exact: 256/16=16
            var k = 1
            while (k <= samplesPerByte) {
              samples(i * samplesPerByte + k - 1) = (prev + inc * k).toShort
              k += 1
            }
            prev = cur
            i += 1
          }
          MediaFile(id, MediaCodec.encodeWavAdpcm(sampleRate, samples),
            "audio/x-adpcm")
        }
      }
  }

  /** REAL audio decode, dispatching on the WAV `fmt ` tag: PCM →
    * [[MediaCodec.decodeWav]], IMA ADPCM → [[MediaCodec
    * .decodeWavAdpcm]] (block headers, nibble reconstruction,
    * fact-chunk trim). Sample count, rate and amplitude statistics
    * come from the DECODED samples; corrupt payloads are dropped, not
    * decoded to garbage. Same partition-iterator scale shape as
    * [[decodeImageFeatures]].
    */
  def decodeAudioFeatures(files: Dataset[MediaFile]): Dataset[AudioFeatures] = {
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      it.flatMap { m =>
        val isAdpcm = m.payload.length >= 22 && {
          // RIFF....WAVEfmt_<len4><tag2>: tag at offset 20
          val tagLo = m.payload(20) & 0xff
          ((m.payload(21) & 0xff) << 8 | tagLo) == 0x11
        }
        val decoded =
          if (isAdpcm) MediaCodec.decodeWavAdpcm(m.payload)
          else MediaCodec.decodeWav(m.payload)
        decoded match {
          case Right(a) =>
            var sumAbs = 0L
            a.samples.foreach(s => sumAbs += math.abs(s.toInt))
            val meanAbs =
              if (a.samples.isEmpty) 0.0
              else sumAbs.toDouble / (a.samples.length * 32768.0)
            Some(AudioFeatures(m.media_id, m.mime, a.sampleRate,
              a.samples.length,
              a.samples.length.toDouble / a.sampleRate, meanAbs))
          case Left(_) => None
        }
      }
    }
  }

  /** REAL-codec media table, VIDEO edition: each document's UTF-8
    * bytes become the luma planes of consecutive 8×8 frames — frame f
    * is bytes [f·64, f·64+64) zero-padded, ≥1 frame even for empty
    * text — written as a genuine YUV4MPEG2 stream
    * ([[MediaCodec.encodeY4m]] — real stream header, per-frame FRAME
    * markers, neutral 4:2:0 chroma; the payload plays in ffmpeg/mpv).
    * The frame partitioning of the byte stream is deterministic, so
    * per-frame luma statistics have a closed form the q155 oracle
    * recomputes from the text (ASCII-corpus caveat as q59).
    */
  def toY4mMedia(docs: DataFrame, fps: Int = 25): Dataset[MediaFile] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val data = text.getBytes("UTF-8")
          val nf = if (data.isEmpty) 1 else (data.length - 1) / 64 + 1
          val frames = Array.tabulate(nf) { f =>
            val end = math.min(f * 64 + 64, data.length)
            val y = new Array[Byte](64)
            if (end > f * 64)
              System.arraycopy(data, f * 64, y, 0, end - f * 64)
            y
          }
          MediaFile(id, MediaCodec.encodeY4m(8, 8, fps, 1, frames),
            "video/x-yuv4mpeg")
        }
      }
  }

  /** REAL video decode + FRAME SAMPLING: parse the Y4M container
    * ([[MediaCodec.decodeY4m]] — header tags, frame markers, exact
    * plane lengths), keep every `every`-th frame, and emit one typed
    * row per SAMPLED frame with its luma statistics. `luma_sum` is the
    * exact integer plane sum — downstream aggregates stay
    * order-independent (the q139 integer-exact-moment discipline);
    * `mean_luma` is the per-frame convenience ratio. Corrupt payloads
    * drop (reason available via the codec), never decode short.
    *
    * 100 TB posture: decode and sampling run inside the partition
    * iterator — a 10 000-frame stream yields rows lazily, UNSAMPLED
    * frames are skipped at the iterator (never materialized as rows),
    * and nothing reaches the driver. Frame rows inherit the input
    * partitioning.
    */
  def sampleVideoFrames(files: Dataset[MediaFile],
                        every: Int = 2): Dataset[VideoFrame] = {
    require(every >= 1, s"sampling stride must be >= 1, got $every")
    import files.sparkSession.implicits._
    files.mapPartitions { it =>
      it.flatMap { m =>
        MediaCodec.decodeY4m(m.payload) match {
          case Right(v) =>
            val denom = v.width * v.height * 255.0
            (0 until v.frames.length by every).iterator.map { f =>
              var sum = 0L
              v.frames(f).foreach(b => sum += (b & 0xff))
              VideoFrame(m.media_id, m.mime, v.width, v.height,
                v.frames.length, f, sum, sum / denom)
            }
          case Left(_) => Iterator.empty
        }
      }
    }
  }

  /** Frame sampling stub for OPAQUE containers (no codec): one row per
    * sampled "frame", frame count derived deterministically from
    * payload size. Kept as the pipeline-shape fallback for formats
    * without a pure-JVM decoder; the REAL path is
    * [[toY4mMedia]]→[[sampleVideoFrames]]. Exercises the
    * generator/explode path over binary columns — SQL-expressible, so
    * oracle-checked.
    */
  def sampleFrames(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", length(col("payload")))
      .select(col("media_id"), col("meta.mime").as("mime"), col("n_bytes"),
        explode(sequence(lit(0), pmod(col("n_bytes"), lit(3))))
          .as("frame_idx"))
      .withColumn("frame_signature",
        pmod(col("n_bytes") * 31 + col("frame_idx"), lit(997)))
}
