package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier, ImageWriteParam}
import javax.imageio.metadata.IIOMetadataNode
import javax.imageio.stream.MemoryCacheImageOutputStream

import org.apache.spark.sql.functions._

import graft.operators.{MediaCodec, MediaFile, Multimodal}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("PPM codec round-trips pixels and parses comments") {
    val pixels = Array.tabulate(2 * 3 * 3)(i => (i * 7 % 256).toByte)
    val enc = MediaCodec.encodePpm(2, 3, pixels)
    val dec = MediaCodec.decodePpm(enc)
    assert(dec.isRight)
    val img = dec.toOption.get
    assert(img.width == 2 && img.height == 3)
    assert(img.pixels.toSeq == pixels.toSeq)
    // header comments are part of the format; a real parser must skip them
    val withComment = ("P6\n# a comment\n2 3\n255\n").getBytes("US-ASCII") ++ pixels
    assert(MediaCodec.decodePpm(withComment).toOption.get.pixels.toSeq
      == pixels.toSeq)
  }

  test("resize: nearest-neighbor 2x picks the even-coordinate pixels " +
      "and survives a real re-encode") {
    // 4x4 raster, pixel (x,y) has all three channels = 16*y + x:
    // the 2x2 output must hold exactly {(0,0),(2,0),(0,2),(2,2)}
    // = {0, 2, 32, 34}; brightness = mean/255
    val pixels = new Array[Byte](4 * 4 * 3)
    for (y <- 0 until 4; x <- 0 until 4; c <- 0 until 3)
      pixels(3 * (y * 4 + x) + c) = (16 * y + x).toByte
    val media = Seq(MediaFile(1L, MediaCodec.encodePpm(4, 4, pixels),
      "image/x-portable-pixmap")).toDS()
    val f = Multimodal.resizeImageFeatures(media, factor = 2).collect()(0)
    assert(f.width == 2 && f.height == 2)
    val wantMean = (0 + 2 + 32 + 34) / 4.0 / 255.0
    assert(math.abs(f.brightness - wantMean) < 1e-12,
      s"brightness=${f.brightness} want=$wantMean")
    // the emitted n_bytes is the RESIZED file: header 'P6\n2 2\n255\n'
    // (11 bytes) + 12 raster bytes
    assert(f.n_bytes == 23, s"n_bytes=${f.n_bytes}")
    // corrupt payloads drop, never garbage-decode
    val bad = Seq(MediaFile(2L, "not a ppm".getBytes, "x")).toDS()
    assert(Multimodal.resizeImageFeatures(bad).isEmpty)
  }

  test("PPM decode rejects corrupt payloads with a reason, never garbage") {
    val good = MediaCodec.encodePpm(2, 2, new Array[Byte](12))
    assert(MediaCodec.decodePpm("JFIF-not-ppm".getBytes).isLeft)
    assert(MediaCodec.decodePpm(good.dropRight(1)).isLeft)   // truncated raster
    assert(MediaCodec.decodePpm(
      "P6\n2 2\n65535\n".getBytes ++ new Array[Byte](12)).isLeft) // bad maxval
    assert(MediaCodec.decodePpm(Array[Byte]('P', '6')).isLeft)
    // the single byte after maxval must BE whitespace: an exact-length
    // payload with 'X' as the separator must not decode
    assert(MediaCodec.decodePpm(
      "P6\n2 2\n255X".getBytes ++ new Array[Byte](12)).isLeft)
  }

  test("PNG codec round-trips pixels through a real deflate stream") {
    val pixels = Array.tabulate(5 * 4 * 3)(i => (i * 31 % 256).toByte)
    val enc = MediaCodec.encodePng(5, 4, pixels)
    // a genuine PNG container: signature + IHDR first
    assert((enc(0) & 0xff) == 0x89 && enc(1) == 'P' && enc(2) == 'N')
    assert(new String(enc.slice(12, 16), "US-ASCII") == "IHDR")
    val dec = MediaCodec.decodePng(enc)
    assert(dec.isRight, dec)
    val img = dec.toOption.get
    assert(img.width == 5 && img.height == 4)
    assert(img.pixels.toSeq == pixels.toSeq)
  }

  test("PNG decode reverses all five scanline filters") {
    // hand-build a 2x5 image whose five scanlines use filters
    // 0..4 (None, Sub, Up, Average, Paeth) — any real encoder may
    // emit any of them, so the decoder must reverse each
    val w = 2; val h = 5; val stride = w * 3
    val pixels = Array.tabulate(h * stride)(i => ((i * 37 + 11) % 256).toByte)
    def px(y: Int, x: Int): Int = pixels(y * stride + x) & 0xff
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      raw(y * (1 + stride)) = y.toByte // filter type = row index
      for (x <- 0 until stride) {
        val cur = px(y, x)
        val left = if (x >= 3) px(y, x - 3) else 0
        val up = if (y > 0) px(y - 1, x) else 0
        val ul = if (y > 0 && x >= 3) px(y - 1, x - 3) else 0
        val filtered = y match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 =>
            val p = left + up - ul
            val pa = math.abs(p - left); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            val pred = if (pa <= pb && pa <= pc) left
                       else if (pb <= pc) up else ul
            cur - pred
        }
        raw(y * (1 + stride) + 1 + x) = (filtered & 0xff).toByte
      }
    }
    // wrap the filtered scanlines in a valid container by splicing the
    // raw stream into encodePng's framing: deflate + chunk + crc
    val deflater = new java.util.zip.Deflater
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) out.write(tmp, 0, deflater.deflate(tmp))
    val idat = out.toByteArray
    def chunk(t: String, d: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + d.length)
      b.putInt(d.length).put(t.getBytes("US-ASCII")).put(d)
      val crc = new java.util.zip.CRC32
      crc.update(t.getBytes("US-ASCII")); crc.update(d)
      b.putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n',
        0x1a, '\n') ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
    val dec = MediaCodec.decodePng(png)
    assert(dec.isRight, dec)
    assert(dec.toOption.get.pixels.toSeq == pixels.toSeq)
  }

  test("PNG decode rejects corrupt payloads with a reason, never garbage") {
    val good = MediaCodec.encodePng(3, 2, new Array[Byte](18))
    assert(MediaCodec.decodePng("not a png".getBytes).isLeft)
    assert(MediaCodec.decodePng(good.dropRight(1)).isLeft) // truncated
    val badCrc = good.clone()
    badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 0x55).toByte
    // flipped byte inside IEND's CRC → chunk walk must reject
    assert(MediaCodec.decodePng(badCrc).isLeft)
    val zlibCorrupt = good.clone()
    // flip a byte inside IDAT data (offset: 8 sig + 25 ihdr + 8 + 2)
    zlibCorrupt(8 + 25 + 10) = (zlibCorrupt(8 + 25 + 10) ^ 0x7f).toByte
    assert(MediaCodec.decodePng(zlibCorrupt).isLeft)
    // interlaced flag set (with fixed CRC) → unsupported, not garbage
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(3).putInt(2)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(1.toByte).array()
    val crc = new java.util.zip.CRC32
    crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdr)
    val interlaced = good.clone()
    System.arraycopy(ihdr, 0, interlaced, 16, 13)
    val cb = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    System.arraycopy(cb, 0, interlaced, 29, 4)
    assert(MediaCodec.decodePng(interlaced).isLeft)
  }

  test("real PNG pipeline: compress docs, decode features via inflate") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
                   (2L, "y" * 50, "en", "srcA", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeImageFeatures(Multimodal.toPngMedia(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).width == 8 && out(1L).height == 1)
    assert(out(2L).width == 8 && out(2L).height == 3)
    assert(out(1L).mime == "image/png")
    val sum = "hello world".getBytes("UTF-8").map(_ & 0xff).sum
    assert(math.abs(out(1L).brightness - sum / (24.0 * 255.0)) < 1e-12)
  }

  // Test-side JPEG writer for the inputs MediaCodec.encodeJpeg does not
  // emit: gray frames, restart intervals and progressive scans. Same
  // writer and quality setting as encodeJpeg, so at equal quality both
  // quantize an RGB raster identically.
  private def writeJpeg(img: BufferedImage, quality: Float,
                        restartInterval: Int = 0,
                        progressive: Boolean = false): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val bytes = new ByteArrayOutputStream()
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(quality)
      if (progressive) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val meta = writer.getDefaultImageMetadata(new ImageTypeSpecifier(img), param)
      if (restartInterval > 0) {
        val fmt = "javax_imageio_jpeg_image_1.0"
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        val dri = new IIOMetadataNode("dri")
        dri.setAttribute("interval", restartInterval.toString)
        val sof = root.getElementsByTagName("sof").item(0)
        sof.getParentNode.insertBefore(dri, sof)
        meta.setFromTree(fmt, root)
      }
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, meta), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  private def rgbImage(w: Int, h: Int, rgb: Array[Byte]): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setPixels(0, 0, w, h, rgb.map(_ & 0xff))
    img
  }

  private def hasMarker(jpeg: Array[Byte], lo: Int, hi: Int): Boolean =
    jpeg.sliding(2).exists(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) >= lo && (s(1) & 0xff) <= hi)

  // smooth gradient: energy concentrates in low-frequency DCT
  // coefficients, so a fine quantizer reconstructs almost exactly
  private def smoothRaster(w: Int, h: Int): Array[Byte] = {
    val rgb = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w) {
      val o = (y * w + x) * 3
      rgb(o) = (40 + 6 * x).toByte
      rgb(o + 1) = (60 + 5 * y).toByte
      rgb(o + 2) = (90 + 2 * x + 3 * y).toByte
    }
    rgb
  }

  private def assertSmoothDecode(enc: Array[Byte], w: Int, h: Int,
                                 rgb: Array[Byte]): Unit = {
    val dec = MediaCodec.decodeJpeg(enc)
    assert(dec.isRight, dec)
    val img = dec.toOption.get
    assert(img.width == w && img.height == h)
    val errs = img.pixels.indices.map(i =>
      math.abs((img.pixels(i) & 0xff) - (rgb(i) & 0xff)))
    assert(errs.max <= 12, s"max pixel error ${errs.max}")
    assert(errs.sum.toDouble / errs.length <= 3.0,
      s"mean pixel error ${errs.sum.toDouble / errs.length}")
  }

  test("JPEG codec round-trips a smooth raster within quantization error") {
    val w = 24; val h = 16
    val rgb = smoothRaster(w, h)
    val enc = MediaCodec.encodeJpeg(w, h, rgb, quality = 95)
    // a genuine JFIF container: SOI + APP0 "JFIF"
    assert((enc(0) & 0xff) == 0xff && (enc(1) & 0xff) == 0xd8)
    assert(new String(enc.slice(6, 10), "US-ASCII") == "JFIF")
    assertSmoothDecode(enc, w, h, rgb)
  }

  test("JPEG grayscale frame round-trips through the 1-component path") {
    val w = 16; val h = 8
    val levels = Array.tabulate(w * h)(i => 16 + 8 * (i % w) + 4 * (i / w))
    val gray = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    gray.getRaster.setPixels(0, 0, w, h, levels)
    val enc = writeJpeg(gray, quality = 0.95f)
    // one component in the frame header: SOF0 length 11 = 8 + 3 * 1
    val sof = enc.sliding(2).indexWhere(s =>
      (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc0)
    assert(sof > 0 && (enc(sof + 9) & 0xff) == 1)
    val dec = MediaCodec.decodeJpeg(enc)
    assert(dec.isRight, dec)
    val img = dec.toOption.get
    assert(img.width == w && img.height == h)
    // grayscale decode replicates Y into all three channels
    for (i <- 0 until w * h)
      assert(img.pixels(3 * i) == img.pixels(3 * i + 1) &&
        img.pixels(3 * i) == img.pixels(3 * i + 2))
    val errs = (0 until w * h).map(i =>
      math.abs((img.pixels(3 * i) & 0xff) - levels(i)))
    assert(errs.max <= 8, s"max gray error ${errs.max}")
  }

  test("JPEG restart markers resync and reproduce the no-restart decode") {
    val w = 8; val h = 48 // 3 MCUs (16x16 at 4:2:0) in one column
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 13 + 7) % 256).toByte)
    val plain = MediaCodec.decodeJpeg(MediaCodec.encodeJpeg(w, h, rgb))
    val withRst = writeJpeg(rgbImage(w, h, rgb), quality = 0.9f,
      restartInterval = 2)
    // the DRI segment and at least one RSTn marker are really present
    assert(hasMarker(withRst, 0xdd, 0xdd))
    assert(hasMarker(withRst, 0xd0, 0xd7))
    val dec = MediaCodec.decodeJpeg(withRst)
    assert(dec.isRight, dec)
    // restart points change the entropy framing, not the pixels
    assert(dec.toOption.get.pixels.toSeq ==
      plain.toOption.get.pixels.toSeq)
  }

  test("JPEG decode rejects corrupt payloads with a reason, never garbage") {
    val rgb = Array.tabulate(8 * 8 * 3)(i => (i * 3 % 256).toByte)
    val good = MediaCodec.encodeJpeg(8, 8, rgb)
    assert(MediaCodec.decodeJpeg(good).isRight)
    assert(MediaCodec.decodeJpeg("not a jpeg".getBytes).isLeft)
    assert(MediaCodec.decodeJpeg(good.dropRight(2)).isLeft)  // missing EOI
    assert(MediaCodec.decodeJpeg(good.dropRight(40)).isLeft) // truncated scan
    assert(MediaCodec.decodeJpeg(good.take(2)).isLeft)       // SOI only
  }

  test("JPEG decode reads a progressive frame") {
    val w = 24; val h = 16
    val rgb = smoothRaster(w, h)
    val enc = writeJpeg(rgbImage(w, h, rgb), quality = 0.95f,
      progressive = true)
    assert(hasMarker(enc, 0xc2, 0xc2) && !hasMarker(enc, 0xc0, 0xc0))
    assertSmoothDecode(enc, w, h, rgb)
  }

  test("real JPEG pipeline: lossy compress, decode, bounded brightness error") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
                   (2L, "the quick brown fox jumps over the lazy dog " * 3,
                     "en", "srcA", 132L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeImageFeatures(Multimodal.toJpegMedia(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).mime == "image/jpeg")
    assert(out(1L).width == 8 && out(1L).height == 1)
    assert(out(2L).width == 8 && out(2L).height == 6)
    def expected(text: String): Double = {
      val data = text.getBytes("UTF-8")
      val n = (data.length / 24 + 1) * 24
      data.map(_ & 0xff).sum / (n * 255.0)
    }
    assert(math.abs(out(1L).brightness - expected("hello world")) < 0.02)
    assert(math.abs(out(2L).brightness -
      expected("the quick brown fox jumps over the lazy dog " * 3)) < 0.02)
    // corrupt payloads are dropped, not decoded to garbage
    val corrupt = Seq(MediaFile(9L,
      Array[Byte](0xff.toByte, 0xd8.toByte, 0, 1, 2, 3), "image/jpeg")).toDS()
    assert(Multimodal.decodeImageFeatures(corrupt).count() == 0)
  }

  test("ADPCM codec: 4:1 compression, bounded roundtrip error") {
    val n = 4000
    // smooth-ish signal: ADPCM tracks within a few steps
    val samples = Array.tabulate(n)(i =>
      ((math.sin(i / 19.0) * 9000 + math.sin(i / 7.0) * 3000)).toShort)
    val enc = MediaCodec.encodeWavAdpcm(16000, samples)
    // genuinely compressed: ~4 bits/sample vs 16 (container overhead
    // plus per-block headers keeps it just above exactly 4:1)
    assert(enc.length < n * 2 / 3.5, s"only ${n * 2}->${enc.length}")
    val dec = MediaCodec.decodeWavAdpcm(enc)
    assert(dec.isRight, dec)
    val out = dec.toOption.get
    assert(out.sampleRate == 16000)
    assert(out.samples.length == n) // fact chunk trims block padding
    val errs = samples.indices.map(i =>
      math.abs(out.samples(i) - samples(i)))
    // transient adaptation lag bounds: the quantizer needs a few
    // samples to track a slope change, so worst-case error is a few
    // steps of the current step size; the MEAN is what stays small
    assert(errs.max < 4200, s"max err ${errs.max}")
    assert(errs.sum.toDouble / n < 200.0, s"mean err ${errs.sum.toDouble / n}")
  }

  test("ADPCM ramp signal preserves mean amplitude within 1%") {
    // the q147 signal shape: 16-sample linear ramps between byte levels
    val text = "the quick brown fox jumps over the lazy dog " * 20
    val data = text.getBytes("UTF-8")
    val samples = new Array[Short](data.length * 16)
    var prev = ((data(0) & 0xff) - 128) * 256
    for (i <- data.indices) {
      val cur = ((data(i) & 0xff) - 128) * 256
      val inc = (cur - prev) / 16
      for (k <- 1 to 16) samples(i * 16 + k - 1) = (prev + inc * k).toShort
      prev = cur
    }
    val dec = MediaCodec.decodeWavAdpcm(
      MediaCodec.encodeWavAdpcm(16000, samples))
    assert(dec.isRight, dec)
    val out = dec.toOption.get.samples
    assert(out.length == samples.length)
    def meanAbs(a: Array[Short]) =
      a.map(s => math.abs(s.toInt).toLong).sum.toDouble / (a.length * 32768.0)
    assert(math.abs(meanAbs(out) - meanAbs(samples)) < 0.01,
      s"decoded ${meanAbs(out)} vs source ${meanAbs(samples)}")
    // the closed form the q147 oracle uses matches the generated signal
    val p = data.map(b => (((b & 0xff) - 128) * 256).toDouble)
    val closed = -(16.0 * p.sum + 7.5 * (p.head - p.last)) /
      (16.0 * p.length * 32768.0)
    assert(math.abs(closed - meanAbs(samples)) < 1e-12,
      s"closed $closed vs signal ${meanAbs(samples)}")
  }

  test("ADPCM decode rejects corrupt payloads with a reason") {
    val samples = Array.tabulate(600)(i => (i * 37 % 4096 - 2048).toShort)
    val good = MediaCodec.encodeWavAdpcm(8000, samples, samplesPerBlock = 249)
    assert(MediaCodec.decodeWavAdpcm(good).isRight)
    assert(MediaCodec.decodeWavAdpcm("junk".getBytes).isLeft)
    // truncated data chunk: length no longer a block multiple
    assert(MediaCodec.decodeWavAdpcm(good.dropRight(13)).isLeft)
    // PCM payload routed to the ADPCM decoder: wrong format tag
    assert(MediaCodec.decodeWavAdpcm(
      MediaCodec.encodeWavPcm16(8000, samples)).isLeft)
    // corrupt block-align/spb consistency
    val bad = good.clone()
    bad(32) = (bad(32) + 1).toByte // blockAlign low byte inside fmt
    assert(MediaCodec.decodeWavAdpcm(bad).isLeft)
    // empty signal round-trips to zero samples
    val empty = MediaCodec.decodeWavAdpcm(
      MediaCodec.encodeWavAdpcm(8000, Array.empty[Short]))
    assert(empty.isRight && empty.toOption.get.samples.isEmpty)
  }

  test("real ADPCM pipeline: compress, decode, bounded amplitude error") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
                   (2L, "aAzZ " * 40, "en", "srcA", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeAudioFeatures(Multimodal.toAdpcmMedia(docs))
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).mime == "audio/x-adpcm")
    assert(out(1L).sample_rate == 16000)
    assert(out(1L).n_samples == 176) // 11 bytes * 16 samples
    assert(out(2L).n_samples == 3200)
    def expected(text: String): Double = {
      val p = text.getBytes("UTF-8").map(b => (((b & 0xff) - 128) * 256.0))
      -(16.0 * p.sum + 7.5 * (p.head - p.last)) /
        (16.0 * p.length * 32768.0)
    }
    assert(math.abs(out(1L).mean_abs - expected("hello world")) < 0.01)
    // "aAzZ " alternates hard (a 23k-unit swing per byte) — the ramp
    // keeps even that slope inside the quantizer's tracking range
    assert(math.abs(out(2L).mean_abs - expected("aAzZ " * 40)) < 0.01)
    // corrupt payloads are dropped, not decoded to garbage
    val corrupt = Seq(MediaFile(9L, "RIFFxxxxWAVE".getBytes, "audio/x-adpcm"))
      .toDS()
    assert(Multimodal.decodeAudioFeatures(corrupt).count() == 0)
  }

  test("WAV codec round-trips PCM samples and rejects non-PCM") {
    val samples = Array.tabulate(100)(i => (math.sin(i / 7.0) * 8000).toShort)
    val enc = MediaCodec.encodeWavPcm16(16000, samples)
    val dec = MediaCodec.decodeWav(enc)
    assert(dec.isRight)
    assert(dec.toOption.get.sampleRate == 16000)
    assert(dec.toOption.get.samples.toSeq == samples.toSeq)
    // flip the audio-format field to 2 (ADPCM) → must be rejected
    val bad = enc.clone(); bad(20) = 2
    assert(MediaCodec.decodeWav(bad).isLeft)
    assert(MediaCodec.decodeWav("RIFFxxxx".getBytes).isLeft)
  }

  test("real PPM pipeline: encode docs, decode features from parsed headers") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L),
                   (2L, "x" * 50, "en", "srcA", 50L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Multimodal.decodeImageFeatures(Multimodal.toPpmMedia(docs))
      .collect().map(f => f.media_id -> f).toMap
    // 11 bytes → h = 11/24 + 1 = 1; 50 bytes → h = 50/24 + 1 = 3
    assert(out(1L).width == 8 && out(1L).height == 1)
    assert(out(2L).width == 8 && out(2L).height == 3)
    val sum = "hello world".getBytes("UTF-8").map(_ & 0xff).sum
    assert(math.abs(out(1L).brightness - sum / (24.0 * 255.0)) < 1e-12)
    // corrupt payloads are dropped, not decoded to garbage
    val corrupt = Seq(MediaFile(9L, "not a ppm at all".getBytes, "image/x-portable-pixmap")).toDS()
    assert(Multimodal.decodeImageFeatures(corrupt).count() == 0)
  }

  test("decodeFeatures is deterministic and schema-typed") {
    val payload = "0123456789abcdef-rest-of-payload".getBytes("UTF-8")
    val ds = Seq(MediaFile(7L, payload, "image/png")).toDS()
    val f = Multimodal.decodeFeatures(ds).head()
    assert(f.media_id == 7L && f.mime == "image/png")
    assert(f.n_bytes == payload.length)
    assert(f.width == 64 + payload.length % 64)
    assert(f.height == 64 + (payload.length / 2) % 64)
    val expectedBrightness =
      (payload.take(16).map(_ & 0xff).sum % 256) / 255.0
    assert(math.abs(f.brightness - expectedBrightness) < 1e-12)
  }

  test("fromDocuments produces binary payload + typed metadata struct") {
    val docs = Seq((1L, "hello world", "en", "srcA", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = Multimodal.fromDocuments(docs)
    assert(m.schema("payload").dataType.typeName == "binary")
    val row = m.select(col("media_id"), col("meta.mime"),
      length(col("payload"))).head()
    assert(row.getLong(0) == 1L)
    assert(row.getString(1) == "text/plain")
    assert(row.getInt(2) == 11)
  }

  test("sampleFrames emits deterministic frame rows per payload") {
    val docs = Seq((1L, "abcdef", "en", "s", 6L)) // 6 bytes → 6%3+1 = 1 frame
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val frames = Multimodal.sampleFrames(Multimodal.fromDocuments(docs))
      .collect()
    assert(frames.length == 1)
    val r = frames.head
    assert(r.getAs[Int]("frame_idx") == 0)
    assert(r.getAs[Int]("frame_signature") == (6 * 31 + 0) % 997)
  }

  test("Y4M codec round-trips luma planes through a real container") {
    val frames = Array.tabulate(3)(f =>
      Array.tabulate(64)(i => ((f * 64 + i) % 256).toByte))
    val enc = MediaCodec.encodeY4m(8, 8, 30, 1, frames)
    // the stream header is genuine ASCII Y4M
    assert(new String(enc.take(9), "US-ASCII") == "YUV4MPEG2")
    val dec = MediaCodec.decodeY4m(enc)
    assert(dec.isRight)
    val v = dec.toOption.get
    assert(v.width == 8 && v.height == 8)
    assert(v.fpsNum == 30 && v.fpsDen == 1)
    assert(v.frames.length == 3)
    v.frames.zip(frames).foreach { case (got, want) =>
      assert(got.toSeq == want.toSeq)
    }
  }

  test("Y4M decode rejects corrupt payloads with a reason, never garbage") {
    val good = MediaCodec.encodeY4m(8, 8, 25, 1,
      Array(Array.fill(64)(7.toByte)))
    assert(MediaCodec.decodeY4m("RIFF-not-y4m".getBytes).isLeft)
    // truncated mid-frame: parser must refuse, not return a short plane
    assert(MediaCodec.decodeY4m(good.dropRight(1)).isLeft)
    // unsupported chroma mode
    val c444 = "YUV4MPEG2 W8 H8 F25:1 C444\n".getBytes("US-ASCII") ++
      "FRAME\n".getBytes ++ new Array[Byte](8 * 8 * 3)
    assert(MediaCodec.decodeY4m(c444).isLeft)
    // odd dimensions cannot carry 4:2:0
    val odd = "YUV4MPEG2 W7 H8 F25:1\n".getBytes("US-ASCII")
    assert(MediaCodec.decodeY4m(odd).isLeft)
    // garbage between frames
    val junk = good ++ "JUNK!\n".getBytes
    assert(MediaCodec.decodeY4m(junk).isLeft)
  }

  test("real Y4M pipeline: encode docs, sample every 2nd decoded frame") {
    // 130 bytes → 3 frames; sampled frames 0 and 2
    val text = ("a" * 64) + ("b" * 64) + "cd"
    val docs = Seq((5L, text, "en", "s", 130L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Multimodal.sampleVideoFrames(
      Multimodal.toY4mMedia(docs), every = 2).collect().sortBy(_.frame_idx)
    assert(rows.length == 2)
    assert(rows.forall(r => r.width == 8 && r.height == 8 && r.n_frames == 3))
    assert(rows.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(rows(0).luma_sum == 64L * 'a')            // full frame of 'a'
    assert(rows(1).luma_sum == 'c' + 'd')            // 2 bytes + zero pad
    assert(math.abs(rows(0).mean_luma - 64.0 * 'a' / 16320.0) < 1e-12)
    // a corrupt payload drops the whole stream, not partial frames
    val corrupt = Multimodal.toY4mMedia(docs)
      .map(m => m.copy(payload = m.payload.dropRight(1)))
    assert(Multimodal.sampleVideoFrames(corrupt, 2).count() == 0)
  }

  test("empty documents still produce one all-zero video frame") {
    val docs = Seq((9L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Multimodal.sampleVideoFrames(
      Multimodal.toY4mMedia(docs), every = 2).collect()
    assert(rows.length == 1)
    assert(rows.head.n_frames == 1 && rows.head.luma_sum == 0L)
  }
}
