package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{CRC32, Deflater, Inflater}
import javax.imageio.{IIOException, IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Pure-JVM media codecs for the multimodal pipeline: binary PPM (P6)
  * and PNG (RGB8) images and PCM WAV (RIFF) audio — real encode/decode
  * with header validation, no external libraries (this container ships
  * none; all three formats are fully specified byte layouts, and PNG's
  * compression is zlib, which the JDK ships as
  * `java.util.zip.Inflater`/`Deflater` — a dependency would buy
  * nothing).
  *
  * These give the multimodal operators a GENUINE codec path: headers
  * are parsed, per-chunk CRCs are verified, scanline filters are
  * reversed, dimensions come from the file (not from heuristics), and
  * corrupt payloads are rejected with a reason instead of decoding to
  * garbage. JPEG goes through the JDK's own ImageIO JPEG reader and
  * writer ([[encodeJpeg]]/[[decodeJpeg]]): DCT and entropy coding are
  * the JDK's, the glue keeps streams in memory and turns every reader
  * warning into a `Left`. PNG stays hand-written because the JDK PNG
  * reader skips IDAT CRCs and accepts a short file. Video
  * travels as YUV4MPEG2 (Y4M — the uncompressed planar container
  * mjpegtools defined and every ffmpeg build reads/writes), giving the
  * frame-sampling path a genuine multi-frame decode. Patent-era
  * compressed video (H.26x/VP9/AV1) stays out of scope: a conformant
  * decoder is a project of its own and would buy the ENGINE nothing —
  * the Spark-side contract (binary column in, per-frame rows out) is
  * identical for every container.
  */
object MediaCodec {

  /** A decoded RGB8 raster, row-major, 3 bytes per pixel. */
  final case class Image(width: Int, height: Int, pixels: Array[Byte])
  final case class WavAudio(sampleRate: Int, samples: Array[Short])

  /** Binary PPM (P6): `P6\n<w> <h>\n<maxval>\n<raw RGB bytes>`. */
  def encodePpm(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height * 3,
      s"P6 needs w*h*3 bytes, got ${pixels.length} for ${width}x$height")
    val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(pixels, 0, out, header.length, pixels.length)
    out
  }

  /** Real P6 parser: magic check, `#` comments, whitespace-separated
    * header ints, maxval 255, exact payload length — anything else is
    * a `Left(reason)`, never a garbage decode.
    */
  def decodePpm(bytes: Array[Byte]): Either[String, Image] = {
    if (bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6')
      return Left("not a P6 ppm (bad magic)")
    var i = 2
    def skipSpaceAndComments(): Unit = {
      var going = true
      while (going && i < bytes.length) {
        val c = bytes(i)
        if (c == ' ' || c == '\n' || c == '\r' || c == '\t') i += 1
        else if (c == '#') { while (i < bytes.length && bytes(i) != '\n') i += 1 }
        else going = false
      }
    }
    def readInt(): Either[String, Int] = {
      skipSpaceAndComments()
      val start = i
      var v = 0L
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0')
        if (v > Int.MaxValue) return Left("header int overflow")
        i += 1
      }
      if (i == start) Left(s"expected header int at offset $start") else Right(v.toInt)
    }
    for {
      w <- readInt()
      h <- readInt()
      maxval <- readInt()
      _ <- if (maxval != 255) Left(s"unsupported maxval $maxval") else Right(())
      _ <- if (i >= bytes.length) Left("truncated after header")
           // exactly ONE whitespace byte before raster — and it must BE
           // whitespace ('P6\n2 2\n255X…' with an exact-length payload
           // must not decode)
           else bytes(i) match {
             case ' ' | '\n' | '\r' | '\t' => Right { i += 1 }
             case c => Left(s"expected whitespace after maxval, got byte $c")
           }
      _ <- if (w <= 0 || h <= 0) Left(s"bad dimensions ${w}x$h") else Right(())
      // Long arithmetic: crafted dimensions like 65536x65536 overflow
      // Int (w*h*3 wraps to 0) and would accept an empty raster
      _ <- if ((bytes.length - i).toLong != w.toLong * h.toLong * 3L)
             Left(s"raster length ${bytes.length - i} != ${w.toLong * h * 3}")
           else Right(())
    } yield Image(w, h, java.util.Arrays.copyOfRange(bytes, i, bytes.length))
  }

  // ------------------------------------------------------------- PNG

  private val PngSignature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  private def pngChunk(buf: ByteBuffer, chunkType: String,
                       data: Array[Byte]): Unit = {
    buf.putInt(data.length)
    val typeBytes = chunkType.getBytes("US-ASCII")
    buf.put(typeBytes).put(data)
    val crc = new CRC32
    crc.update(typeBytes); crc.update(data)
    buf.putInt(crc.getValue.toInt)
  }

  /** PNG encode (8-bit RGB, color type 2, non-interlaced): signature +
    * IHDR + one IDAT (zlib over filter-0 scanlines) + IEND, with real
    * per-chunk CRC-32s — the output opens in any image viewer.
    */
  def encodePng(width: Int, height: Int, pixels: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(pixels.length == width * height * 3,
      s"RGB8 needs w*h*3 bytes, got ${pixels.length} for ${width}x$height")
    val ihdr = ByteBuffer.allocate(13)
      .putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte)  // compression: deflate
      .put(0.toByte)  // filter method 0
      .put(0.toByte)  // not interlaced
      .array()
    val stride = width * 3
    val raw = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      // raw(y * (1 + stride)) stays 0: filter type None per scanline
      System.arraycopy(pixels, y * stride, raw, y * (1 + stride) + 1, stride)
      y += 1
    }
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) out.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val idat = out.toByteArray
    val buf = ByteBuffer.allocate(8 + 25 + (12 + idat.length) + 12)
    buf.put(PngSignature)
    pngChunk(buf, "IHDR", ihdr)
    pngChunk(buf, "IDAT", idat)
    pngChunk(buf, "IEND", Array.emptyByteArray)
    buf.array()
  }

  /** Real PNG decoder for the profile the encoder writes (8-bit RGB,
    * non-interlaced) — but a genuine one: chunk walk with CRC-32
    * verification, multiple IDAT concatenation, ancillary-chunk skip,
    * zlib inflate, and reversal of ALL FIVE scanline filters (None/
    * Sub/Up/Average/Paeth — any encoder may choose per line). Anything
    * malformed — bad signature, bad CRC, truncated stream, wrong
    * inflated length, unsupported IHDR profile — is a `Left(reason)`,
    * never a garbage decode.
    */
  def decodePng(bytes: Array[Byte]): Either[String, Image] = {
    if (bytes.length < PngSignature.length + 12 ||
        !PngSignature.indices.forall(i => bytes(i) == PngSignature(i)))
      return Left("not a png (bad signature)")
    val buf = ByteBuffer.wrap(bytes)
    buf.position(PngSignature.length)
    var width = -1
    var height = -1
    var seenIhdr = false
    var seenIend = false
    val idat = new java.io.ByteArrayOutputStream()
    while (!seenIend) {
      if (buf.remaining() < 8) return Left("truncated chunk header")
      val len = buf.getInt
      if (len < 0 || buf.remaining() < 4 + len + 4)
        return Left(s"bad chunk length $len")
      val typeBytes = new Array[Byte](4); buf.get(typeBytes)
      val chunkType = new String(typeBytes, "US-ASCII")
      val data = new Array[Byte](len); buf.get(data)
      val crc = new CRC32
      crc.update(typeBytes); crc.update(data)
      if (buf.getInt != crc.getValue.toInt)
        return Left(s"crc mismatch in '$chunkType'")
      chunkType match {
        case "IHDR" =>
          if (seenIhdr) return Left("duplicate IHDR")
          if (len != 13) return Left(s"IHDR length $len != 13")
          val h = ByteBuffer.wrap(data)
          width = h.getInt; height = h.getInt
          val (depth, color, comp, filt, interlace) =
            (h.get(), h.get(), h.get(), h.get(), h.get())
          if (width <= 0 || height <= 0)
            return Left(s"bad dimensions ${width}x$height")
          if (depth != 8 || color != 2)
            return Left(s"unsupported profile: depth $depth color $color " +
              "(decoder handles 8-bit truecolor RGB)")
          if (comp != 0 || filt != 0)
            return Left(s"bad compression/filter method $comp/$filt")
          if (interlace != 0) return Left("interlaced png unsupported")
          seenIhdr = true
        case "IDAT" =>
          if (!seenIhdr) return Left("IDAT before IHDR")
          idat.write(data, 0, data.length)
        case "IEND" =>
          if (len != 0) return Left("IEND carries data")
          seenIend = true
        case other =>
          // ancillary chunks (tEXt, gAMA, pHYs, …) carry no raster
          // bytes — skip; critical unknown chunks must reject
          if ((typeBytes(0) & 0x20) == 0)
            return Left(s"unknown critical chunk '$other'")
      }
    }
    if (!seenIhdr) return Left("no IHDR")
    if (idat.size() == 0) return Left("no IDAT data")
    val stride = width * 3
    // Long arithmetic: crafted dimensions overflow Int (w*h*3 wraps)
    val expectedL = height.toLong * (1L + stride.toLong)
    if (expectedL > Int.MaxValue) return Left("image too large")
    val raw = new Array[Byte](expectedL.toInt)
    val inflater = new Inflater
    inflater.setInput(idat.toByteArray)
    val got =
      try {
        var off = 0
        while (off < raw.length && !inflater.finished()) {
          val n = inflater.inflate(raw, off, raw.length - off)
          if (n == 0 && inflater.needsInput()) // truncated stream
            return Left("zlib stream ended early")
          off += n
        }
        if (!inflater.finished()) {
          // more compressed data than the raster needs
          val probe = new Array[Byte](1)
          if (inflater.inflate(probe) > 0)
            return Left("zlib stream longer than raster")
        }
        off
      } catch {
        case e: java.util.zip.DataFormatException =>
          return Left(s"corrupt zlib stream: ${e.getMessage}")
      } finally inflater.end()
    if (got != raw.length)
      return Left(s"raster length $got != ${raw.length}")
    // reverse per-scanline filters in place (spec §9: byte-wise, with
    // the per-pixel offset bpp=3; Paeth per RFC 2083)
    val pixels = new Array[Byte](height * stride)
    val bpp = 3
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + stride) + 1
      val outOff = y * stride
      val filter = raw(rowOff - 1) & 0xff
      if (filter > 4) return Left(s"bad filter type $filter on line $y")
      var x = 0
      while (x < stride) {
        val cur = raw(rowOff + x) & 0xff
        val left = if (x >= bpp) pixels(outOff + x - bpp) & 0xff else 0
        val up = if (y > 0) pixels(outOff - stride + x) & 0xff else 0
        val upLeft =
          if (y > 0 && x >= bpp) pixels(outOff - stride + x - bpp) & 0xff
          else 0
        val recon = filter match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + (left + up) / 2
          case 4 =>
            val p = left + up - upLeft
            val pa = math.abs(p - left)
            val pb = math.abs(p - up)
            val pc = math.abs(p - upLeft)
            val pred = if (pa <= pb && pa <= pc) left
                       else if (pb <= pc) up
                       else upLeft
            cur + pred
        }
        pixels(outOff + x) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Right(Image(width, height, pixels))
  }

  // ------------------------------------------------------------ JPEG

  /** JFIF JPEG encode of an RGB8 raster through the JDK's ImageIO JPEG
    * writer at `quality` (0-100, the IJG scale). The stream is cached in
    * memory, never in a temp file.
    */
  def encodeJpeg(width: Int, height: Int, rgb: Array[Byte],
                 quality: Int = 90): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(rgb.length == width * height * 3,
      s"RGB8 needs w*h*3 bytes, got ${rgb.length} for ${width}x$height")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_3BYTE_BGR)
    img.getRaster.setPixels(0, 0, width, height, rgb.map(_ & 0xff))
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val bytes = new ByteArrayOutputStream(rgb.length / 4 + 1024)
    val out = new MemoryCacheImageOutputStream(bytes)
    try {
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(quality / 100f)
      writer.setOutput(out)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { writer.dispose(); out.close() }
    bytes.toByteArray
  }

  /** JPEG decode through the JDK's ImageIO JPEG reader (baseline or
    * progressive, any sampling, 1 or 3 components) into RGB8; a gray
    * frame's Y is copied into all three channels. A reader warning
    * (missing EOI, truncated scan) or an `IIOException` (not a JPEG,
    * no frame) is a `Left(reason)`, never a garbage decode.
    */
  def decodeJpeg(bytes: Array[Byte]): Either[String, Image] = {
    val reader = ImageIO.getImageReadersByFormatName("jpeg").next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    var warning = Option.empty[String]
    reader.addIIOReadWarningListener((_, w) => warning = warning.orElse(Some(w)))
    try {
      reader.setInput(in, true, true)
      val raster = reader.read(0).getRaster
      val (w, h, bands) = (raster.getWidth, raster.getHeight, raster.getNumBands)
      val samples = raster.getPixels(0, 0, w, h, null: Array[Int])
      val rgb = bands match {
        case 3 => samples.map(_.toByte)
        case 1 => samples.flatMap(v => Array.fill(3)(v.toByte))
        case n => return Left(s"unsupported $n-component jpeg")
      }
      warning.map(m => s"corrupt jpeg: $m").toLeft(Image(w, h, rgb))
    } catch {
      case e: IIOException => Left(s"not a decodable jpeg: ${e.getMessage}")
    } finally { reader.dispose(); in.close() }
  }

  /** Minimal canonical PCM WAV: RIFF/WAVE, one `fmt ` chunk (PCM,
    * mono, 16-bit little-endian), one `data` chunk.
    */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** The one RIFF/WAVE chunk walker of both WAV decoders: checks the
    * RIFF and WAVE magics, then hands each chunk's id and body (a
    * little-endian buffer over exactly that chunk) to `visit` until it
    * returns a result (`Right(Some(_))`), a rejection, or fewer than 8
    * bytes remain (`Right(None)`). A chunk longer than the bytes left
    * is rejected; the pad byte after an odd-length chunk is skipped,
    * or absent when the chunk ends the file. */
  private def walkRiff[A](bytes: Array[Byte])(
      visit: (String, ByteBuffer) => Either[String, Option[A]])
      : Either[String, Option[A]] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    if (tag() != "RIFF") return Left("bad RIFF magic")
    buf.getInt // riff size (trusted length is the array itself)
    if (tag() != "WAVE") return Left("bad WAVE magic")
    while (buf.remaining() >= 8) {
      val id = tag()
      val len = buf.getInt
      if (len < 0 || len > buf.remaining())
        return Left(s"bad chunk length $len in '$id'")
      val body = buf.slice(buf.position(), len).order(ByteOrder.LITTLE_ENDIAN)
      visit(id, body) match {
        case Right(None) =>
          buf.position(math.min(buf.position() + len + (len & 1), buf.limit()))
        case done => return done
      }
    }
    Right(None)
  }

  /** Real RIFF parser: walks chunks (tolerating extras like `LIST`),
    * validates the PCM/mono/16-bit `fmt `, extracts `data` samples.
    */
  def decodeWav(bytes: Array[Byte]): Either[String, WavAudio] = {
    if (bytes.length < 44) return Left("too short for a wav header")
    var sampleRate = -1
    var ok = false
    walkRiff(bytes) {
      case ("fmt ", body) if body.remaining < 16 => Left("fmt chunk too short")
      case ("fmt ", body) =>
        val audioFormat = body.getShort
        val channels = body.getShort
        sampleRate = body.getInt
        body.getInt; body.getShort // byte rate, block align
        val bits = body.getShort
        ok = true
        if (audioFormat != 1) Left(s"not PCM (format $audioFormat)")
        else if (channels != 1) Left(s"not mono ($channels channels)")
        else if (bits != 16) Left(s"not 16-bit ($bits)")
        else Right(None)
      case ("data", _) if !ok => Left("data chunk before fmt")
      case ("data", body) if body.remaining % 2 != 0 =>
        Left("odd data length for 16-bit PCM")
      case ("data", body) =>
        val out = new Array[Short](body.remaining / 2)
        body.asShortBuffer.get(out)
        Right(Some(WavAudio(sampleRate, out)))
      case _ => Right(None)
    }.flatMap(_.toRight("no data chunk"))
  }

  // ------------------------------------------------------------ IMA ADPCM

  /** IMA/DVI ADPCM step-size table (89 entries) and index-adjustment
    * table — the standard constants from the IMA ADPCM reference
    * algorithm (public spec; also WAV format tag 0x0011). */
  private val AdpcmSteps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private val AdpcmIndexAdjust: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM quantization step: encode `sample` against the
    * running `(pred, index)` state, returning `(nibble, pred', index')`.
    * The decoder applies the identical reconstruction arithmetic, so
    * encode→decode is bit-deterministic. */
  private def adpcmEncodeStep(sample: Int, pred: Int, index: Int)
      : (Int, Int, Int) = {
    val step = AdpcmSteps(index)
    var diff = sample - pred
    val sign = if (diff < 0) { diff = -diff; 8 } else 0
    var code = 0
    var vpdiff = step >> 3
    var s = step
    if (diff >= s) { code |= 4; diff -= s; vpdiff += s }
    s >>= 1
    if (diff >= s) { code |= 2; diff -= s; vpdiff += s }
    s >>= 1
    if (diff >= s) { code |= 1; vpdiff += s }
    val p0 = if (sign != 0) pred - vpdiff else pred + vpdiff
    val p = math.max(-32768, math.min(32767, p0))
    val idx = math.max(0, math.min(88,
      index + AdpcmIndexAdjust(code & 7)))
    (code | sign, p, idx)
  }

  /** Reconstruction half of [[adpcmEncodeStep]]. */
  private def adpcmDecodeStep(nibble: Int, pred: Int, index: Int)
      : (Int, Int) = {
    val step = AdpcmSteps(index)
    var vpdiff = step >> 3
    if ((nibble & 4) != 0) vpdiff += step
    if ((nibble & 2) != 0) vpdiff += step >> 1
    if ((nibble & 1) != 0) vpdiff += step >> 2
    val p0 = if ((nibble & 8) != 0) pred - vpdiff else pred + vpdiff
    val p = math.max(-32768, math.min(32767, p0))
    val idx = math.max(0, math.min(88,
      index + AdpcmIndexAdjust(nibble & 7)))
    (p, idx)
  }

  /** COMPRESSED audio: mono IMA ADPCM in a canonical WAV container
    * (format tag 0x0011, 4 bits/sample — a real 4:1 lossy codec, not a
    * container trick). Standard block layout: 4-byte header (seed
    * sample int16 + step index + reserved) then two nibbles per byte,
    * low nibble first; a `fact` chunk records the true sample count so
    * a partial final block round-trips exactly. `samplesPerBlock` must
    * be odd-plus-one-free: 1 header sample + 2*(blockAlign-4) coded. */
  def encodeWavAdpcm(sampleRate: Int, samples: Array[Short],
                     samplesPerBlock: Int = 505): Array[Byte] = {
    require(samplesPerBlock >= 2 && samplesPerBlock % 2 == 1,
      s"IMA block carries 1 header + 2k coded samples (odd total), " +
        s"got $samplesPerBlock")
    val blockAlign = 4 + (samplesPerBlock - 1) / 2
    val nBlocks =
      if (samples.isEmpty) 0
      else (samples.length + samplesPerBlock - 1) / samplesPerBlock
    val dataLen = nBlocks * blockAlign
    val byteRate =
      math.max(1, (sampleRate.toLong * blockAlign / samplesPerBlock).toInt)
    val buf = ByteBuffer.allocate(60 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(52 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11) // IMA ADPCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(byteRate)
      .putShort(blockAlign.toShort)
      .putShort(4) // bits per sample
      .putShort(2) // cbSize
      .putShort(samplesPerBlock.toShort)
      .put("fact".getBytes("US-ASCII")).putInt(4).putInt(samples.length)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var off = 0
    var index = 0 // step index carries across blocks (common practice)
    while (off < samples.length) {
      val n = math.min(samplesPerBlock, samples.length - off)
      var pred: Int = samples(off) // header seeds the first sample
      buf.putShort(pred.toShort).put(index.toByte).put(0.toByte)
      var i = 1
      var nib = 0
      var half = false
      while (i < samplesPerBlock) {
        // pad a short final block by re-encoding its last real sample
        val s = samples(off + math.min(i, n - 1))
        val (code, p, idx) = adpcmEncodeStep(s, pred, index)
        pred = p; index = idx
        if (!half) { nib = code & 0x0f; half = true }
        else { buf.put(((code << 4) | nib).toByte); half = false }
        i += 1
      }
      if (half) buf.put(nib.toByte)
      off += n
    }
    buf.array()
  }

  /** Real IMA ADPCM WAV decode: RIFF walk, fmt tag 0x0011 validation,
    * per-block header + nibble-stream reconstruction, `fact`-chunk
    * trim of the padded final block. Anything malformed — bad block
    * align, truncated data, missing fact count — is a reasoned
    * rejection, never garbage samples. */
  def decodeWavAdpcm(bytes: Array[Byte]): Either[String, WavAudio] = {
    if (bytes.length < 60) return Left("too short for an adpcm wav")
    var sampleRate = -1
    var blockAlign = -1
    var samplesPerBlock = -1
    var factSamples = -1
    var fmtOk = false
    val walked = walkRiff(bytes) {
      case ("fmt ", body) if body.remaining < 20 =>
        Left("adpcm fmt chunk too short")
      case ("fmt ", body) =>
        val audioFormat = body.getShort
        val channels = body.getShort
        sampleRate = body.getInt
        body.getInt // byte rate
        blockAlign = body.getShort & 0xffff
        val bits = body.getShort
        body.getShort // cbSize
        samplesPerBlock = body.getShort & 0xffff
        fmtOk = true
        if (audioFormat != 0x11) Left(s"not IMA ADPCM (format $audioFormat)")
        else if (channels != 1) Left(s"not mono ($channels channels)")
        else if (bits != 4) Left(s"not 4-bit ($bits)")
        else if (blockAlign < 5 || samplesPerBlock != 1 + 2 * (blockAlign - 4))
          Left(s"inconsistent block layout (align $blockAlign, " +
            s"spb $samplesPerBlock)")
        else Right(None)
      case ("fact", body) if body.remaining < 4 => Left("fact chunk too short")
      case ("fact", body) =>
        factSamples = body.getInt
        Right(None)
      case ("data", _) if !fmtOk => Left("data chunk before fmt")
      case ("data", body) if body.remaining % blockAlign != 0 => Left(
        s"data length ${body.remaining} not a multiple of block $blockAlign")
      case ("data", body) =>
        val data = new Array[Byte](body.remaining)
        body.get(data)
        Right(Some(data))
      case _ => Right(None)
    }
    val data = walked match {
      case Right(Some(d)) => d
      case Right(None) => return Left("no data chunk")
      case Left(e) => return Left(e)
    }
    if (factSamples < 0) return Left("no fact chunk (sample count unknown)")
    val nBlocks = data.length / blockAlign
    if (factSamples > nBlocks * samplesPerBlock)
      return Left(s"fact count $factSamples exceeds coded capacity")
    val out = new Array[Short](nBlocks * samplesPerBlock)
    var b = 0
    var w = 0
    while (b < nBlocks) {
      val base = b * blockAlign
      var pred: Int =
        ((data(base) & 0xff) | (data(base + 1) << 8)).toShort.toInt
      var index = data(base + 2) & 0xff
      if (index > 88) return Left(s"block $b step index $index out of range")
      out(w) = pred.toShort; w += 1
      var i = 4
      while (i < blockAlign) {
        val byte = data(base + i) & 0xff
        val (p1, i1) = adpcmDecodeStep(byte & 0x0f, pred, index)
        pred = p1; index = i1
        out(w) = p1.toShort; w += 1
        val (p2, i2) = adpcmDecodeStep(byte >> 4, pred, index)
        pred = p2; index = i2
        out(w) = p2.toShort; w += 1
        i += 1
      }
      b += 1
    }
    Right(WavAudio(sampleRate, java.util.Arrays.copyOf(out, factSamples)))
  }

  // ------------------------------------------------------------ Y4M video

  /** A decoded Y4M stream: 4:2:0 frames as raw planes. `frames(f)` is
    * the frame's Y (luma) plane, `w*h` bytes row-major; chroma planes
    * are parsed and validated but not retained (the engine's video
    * features are luma statistics — keeping U/V would triple the
    * decoded footprint for bytes nothing reads).
    */
  final case class Y4mVideo(width: Int, height: Int, fpsNum: Int,
                            fpsDen: Int, frames: Array[Array[Byte]])

  /** YUV4MPEG2 container: one ASCII stream header
    * `YUV4MPEG2 W<w> H<h> F<num>:<den> Ip A1:1 C420jpeg\n`, then per
    * frame a `FRAME\n` marker followed by raw planar 4:2:0 bytes —
    * Y (w·h), U (w/2·h/2), V (w/2·h/2). `lumaFrames` are Y planes;
    * chroma is written neutral (128), i.e. a grayscale stream.
    * Dimensions must be even (4:2:0 subsamples both axes by 2).
    */
  def encodeY4m(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                lumaFrames: Array[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      s"4:2:0 needs positive even dimensions, got ${width}x$height")
    require(lumaFrames.nonEmpty, "a Y4M stream needs at least one frame")
    lumaFrames.foreach(f => require(f.length == width * height,
      s"luma plane needs w*h=${width * height} bytes, got ${f.length}"))
    val header =
      s"YUV4MPEG2 W$width H$height F$fpsNum:$fpsDen Ip A1:1 C420jpeg\n"
        .getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val cSize = (width / 2) * (height / 2)
    val frameBytes = marker.length + width * height + 2 * cSize
    val out = new Array[Byte](header.length + lumaFrames.length * frameBytes)
    System.arraycopy(header, 0, out, 0, header.length)
    var pos = header.length
    lumaFrames.foreach { y =>
      System.arraycopy(marker, 0, out, pos, marker.length)
      pos += marker.length
      System.arraycopy(y, 0, out, pos, y.length)
      pos += y.length
      java.util.Arrays.fill(out, pos, pos + 2 * cSize, 128.toByte)
      pos += 2 * cSize
    }
    out
  }

  /** Real Y4M parser: magic + parameter-tag walk (W/H required, C only
    * 4:2:0 variants — the container also allows 422/444, which this
    * engine's features never produce), per-frame marker check, exact
    * plane lengths. Truncated or malformed payloads are a
    * `Left(reason)`, never a short decode.
    */
  def decodeY4m(bytes: Array[Byte]): Either[String, Y4mVideo] = {
    val magic = "YUV4MPEG2".getBytes("US-ASCII")
    if (bytes.length < magic.length ||
        !magic.indices.forall(i => bytes(i) == magic(i)))
      return Left("not a Y4M stream (bad magic)")
    var i = magic.length
    var nl = i
    while (nl < bytes.length && bytes(nl) != '\n') nl += 1
    if (nl >= bytes.length) return Left("unterminated stream header")
    val params = new String(bytes, i, nl - i, "US-ASCII").trim
      .split("\\s+").filter(_.nonEmpty)
    var w = -1; var h = -1; var fn = 25; var fd = 1
    params.foreach { p =>
      (p.head, p.tail) match {
        case ('W', v) => w = v.toIntOption.getOrElse(-1)
        case ('H', v) => h = v.toIntOption.getOrElse(-1)
        case ('F', v) => v.split(":") match {
          case Array(a, b) =>
            fn = a.toIntOption.getOrElse(-1); fd = b.toIntOption.getOrElse(-1)
          case _ => return Left(s"bad frame-rate tag F$v")
        }
        case ('C', v) =>
          if (!v.startsWith("420")) return Left(s"unsupported chroma C$v")
        case _ => () // Ip/A/X tags: valid, irrelevant here
      }
    }
    if (w <= 0 || h <= 0) return Left(s"bad dimensions ${w}x$h")
    if (w % 2 != 0 || h % 2 != 0)
      return Left(s"4:2:0 dimensions must be even, got ${w}x$h")
    if (fn <= 0 || fd <= 0) return Left(s"bad frame rate $fn:$fd")
    val ySize = w * h
    val cSize = (w / 2) * (h / 2)
    val marker = "FRAME".getBytes("US-ASCII")
    i = nl + 1
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (i < bytes.length) {
      if (i + marker.length > bytes.length ||
          !marker.indices.forall(k => bytes(i + k) == marker(k)))
        return Left(s"expected FRAME marker at offset $i")
      var fnl = i + marker.length
      while (fnl < bytes.length && bytes(fnl) != '\n') fnl += 1
      if (fnl >= bytes.length) return Left("unterminated FRAME header")
      i = fnl + 1
      if (i + ySize + 2 * cSize > bytes.length)
        return Left(s"truncated frame ${frames.length}: need " +
          s"${ySize + 2 * cSize} bytes, have ${bytes.length - i}")
      frames += java.util.Arrays.copyOfRange(bytes, i, i + ySize)
      i += ySize + 2 * cSize
    }
    if (frames.isEmpty) return Left("stream has no frames")
    Right(Y4mVideo(w, h, fn, fd, frames.toArray))
  }
}
