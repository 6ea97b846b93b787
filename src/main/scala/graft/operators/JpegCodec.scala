package graft.operators

/** Pure-JVM baseline JPEG codec (ITU-T T.81 / ISO 10918-1) for the
  * multimodal pipeline — sequential DCT, 8-bit, Huffman entropy coding,
  * JFIF container, 4:4:4 sampling. No external libraries: every stage a
  * JPEG library performs is implemented here from the public spec —
  * RGB↔YCbCr (JFIF), forward/inverse 8×8 DCT, quality-scaled Annex-K
  * quantization, zigzag ordering, canonical Huffman coding (Annex C/F),
  * 0xFF byte stuffing, and restart-marker handling.
  *
  * Closes the last stubbed codec family in [[Multimodal]]: with PPM,
  * PNG, WAV and JPEG real, only video containers remain out of scope.
  *
  * The decoder is a genuine validator, not a replay of the encoder: it
  * walks markers, rejects progressive/extended frames, 16-bit
  * quantizers, chroma subsampling it does not implement, truncated
  * entropy streams, and over-long Huffman codes — each with a reason
  * (`Left`), never a garbage decode. JPEG is LOSSY: round-trips
  * preserve dimensions exactly and pixel statistics to within the
  * quantization error (the q146 oracle checks a bounded-error flag,
  * the q45/q133 error-contract pattern).
  *
  * All constant tables below are the public ones printed in the spec
  * (quantization: Annex K.1; Huffman: Annex K.3).
  */
object JpegCodec {

  final case class JpegImage(width: Int, height: Int, pixels: Array[Byte])

  // zigzag scan: ZZ(k) = natural (row-major) index of the k-th
  // transmitted coefficient (spec Figure 5)
  private val ZZ: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.1 base quantization tables, natural (row-major) order
  private val LumaBase: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private val ChromaBase: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** IJG-convention quality scaling (the de-facto public formula):
    * quality 50 = Annex K verbatim, higher = finer steps, clamped to
    * the baseline-legal 1..255.
    */
  private def scaledTable(base: Array[Int], quality: Int): Array[Int] = {
    val q = math.max(1, math.min(100, quality))
    val scale = if (q < 50) 5000 / q else 200 - 2 * q
    base.map(v => math.max(1, math.min(255, (v * scale + 50) / 100)))
  }

  // Annex K.3 Huffman table specs: BITS (codes per length 1..16) + VALS
  private val DcLumaBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).toArray

  private val AcLumaBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0, 0x15,
    0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34, 0xe1, 0x25, 0xf1, 0x17,
    0x18, 0x19, 0x1a, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5,
    0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7,
    0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9,
    0xda, 0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** Canonical Huffman ENCODE table (Annex C): symbol → (code, length),
    * codes assigned in BITS order.
    */
  private def encodeTable(bits: Array[Int],
                          vals: Array[Int]): (Array[Int], Array[Int]) = {
    val codes = new Array[Int](256)
    val sizes = new Array[Int](256)
    var code = 0
    var k = 0
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < bits(l - 1)) {
        codes(vals(k)) = code
        sizes(vals(k)) = l
        code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    (codes, sizes)
  }

  private lazy val (dcLumaCode, dcLumaSize) = encodeTable(DcLumaBits, DcLumaVals)
  private lazy val (dcChromaCode, dcChromaSize) = encodeTable(DcChromaBits, DcChromaVals)
  private lazy val (acLumaCode, acLumaSize) = encodeTable(AcLumaBits, AcLumaVals)
  private lazy val (acChromaCode, acChromaSize) = encodeTable(AcChromaBits, AcChromaVals)

  // DCT basis: cosT(n)(k) = cos((2n+1)kπ/16); C(0)=1/√2 via c()
  private val cosT: Array[Array[Double]] =
    Array.tabulate(8, 8)((n, k) => math.cos((2 * n + 1) * k * math.Pi / 16.0))
  private val invSqrt2 = 1.0 / math.sqrt(2.0)
  @inline private def cScale(k: Int): Double = if (k == 0) invSqrt2 else 1.0

  /** 2D forward DCT (separable, row pass then column pass); `block` is
    * 64 level-shifted samples, natural order. Two 0.5·C(k) 1D passes
    * compose to the spec's ¼·Cu·Cv normalization.
    */
  private def fdct(block: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var k = 0
      while (k < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += block(y * 8 + x) * cosT(x)(k); x += 1 }
        tmp(y * 8 + k) = 0.5 * cScale(k) * s
        k += 1
      }
      y += 1
    }
    val out = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var k = 0
      while (k < 8) {
        var s = 0.0
        var yy = 0
        while (yy < 8) { s += tmp(yy * 8 + x) * cosT(yy)(k); yy += 1 }
        out(k * 8 + x) = 0.5 * cScale(k) * s
        k += 1
      }
      x += 1
    }
    out
  }

  /** 2D inverse DCT — exact adjoint of [[fdct]]'s normalization. */
  private def idct(coef: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var n = 0
      while (n < 8) {
        var s = 0.0
        var k = 0
        while (k < 8) { s += cScale(k) * coef(k * 8 + x) * cosT(n)(k); k += 1 }
        tmp(n * 8 + x) = 0.5 * s
        n += 1
      }
      x += 1
    }
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var n = 0
      while (n < 8) {
        var s = 0.0
        var k = 0
        while (k < 8) { s += cScale(k) * tmp(y * 8 + k) * cosT(n)(k); k += 1 }
        out(y * 8 + n) = 0.5 * s
        n += 1
      }
      y += 1
    }
    out
  }

  @inline private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Magnitude category: number of bits in |v| (spec Table F.1). */
  @inline private def nbits(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** Entropy-coded-segment writer: MSB-first bit accumulation with the
    * mandatory 0xFF → 0xFF 0x00 byte stuffing.
    */
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    def put(bits: Int, len: Int): Unit = if (len > 0) {
      acc = (acc << len) | (bits.toLong & ((1L << len) - 1))
      n += len
      while (n >= 8) {
        val b = ((acc >>> (n - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0)
        n -= 8
      }
    }
    /** Pad the final partial byte with 1-bits (spec F.1.2.3). */
    def flush(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  /** Encode an RGB8 raster as a baseline JFIF JPEG (4:4:4, quality-
    * scaled Annex-K quantizers, Annex-K Huffman tables). Deterministic:
    * pure integer/IEEE-double arithmetic, no RNG, no timestamps.
    *
    * `gray` writes a single-component (luminance-only) frame;
    * `restartInterval` > 0 emits a DRI segment and RSTn markers every
    * that many MCUs (the resync points a parallel decoder shards on).
    */
  def encodeJpeg(width: Int, height: Int, rgb: Array[Byte],
                 quality: Int = 90, gray: Boolean = false,
                 restartInterval: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(rgb.length == width * height * 3,
      s"RGB8 needs w*h*3 bytes, got ${rgb.length} for ${width}x$height")
    val qLuma = scaledTable(LumaBase, quality)
    val qChroma = scaledTable(ChromaBase, quality)
    val out = new java.io.ByteArrayOutputStream(rgb.length / 4 + 1024)
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    marker(0xe0); u16(16) // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1) // version 1.1
    u8(0); u16(1); u16(1) // aspect-ratio units, density 1:1
    u8(0); u8(0) // no thumbnail
    def dqt(id: Int, tbl: Array[Int]): Unit = {
      marker(0xdb); u16(67); u8(id)
      var k = 0
      while (k < 64) { u8(tbl(ZZ(k))); k += 1 } // zigzag on the wire
    }
    dqt(0, qLuma); dqt(1, qChroma)
    val nComp = if (gray) 1 else 3
    marker(0xc0); u16(8 + 3 * nComp) // SOF0: baseline, 4:4:4
    u8(8); u16(height); u16(width); u8(nComp)
    u8(1); u8(0x11); u8(0) // Y
    if (!gray) {
      u8(2); u8(0x11); u8(1) // Cb
      u8(3); u8(0x11); u8(1) // Cr
    }
    def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length)
      u8((cls << 4) | id)
      bits.foreach(u8); vals.foreach(u8)
    }
    dht(0, 0, DcLumaBits, DcLumaVals); dht(1, 0, AcLumaBits, AcLumaVals)
    if (!gray) {
      dht(0, 1, DcChromaBits, DcChromaVals)
      dht(1, 1, AcChromaBits, AcChromaVals)
    }
    if (restartInterval > 0) { marker(0xdd); u16(4); u16(restartInterval) }
    marker(0xda); u16(6 + 2 * nComp) // SOS
    u8(nComp)
    u8(1); u8(0x00)
    if (!gray) {
      u8(2); u8(0x11)
      u8(3); u8(0x11)
    }
    u8(0); u8(63); u8(0) // Ss, Se, AhAl (sequential full scan)

    val bw = new BitWriter(out)
    val prevDc = new Array[Int](3)
    val block = new Array[Double](64)
    val qz = new Array[Int](64)
    val mcusX = (width + 7) / 8
    val mcusY = (height + 7) / 8
    var mcu = 0
    var rstCount = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          // byte-align with 1-pad, then the restart marker raw (markers
          // are never stuffed); DC prediction restarts (F.2.1.3.1)
          bw.flush()
          u8(0xff); u8(0xd0 + (rstCount % 8))
          rstCount += 1
          java.util.Arrays.fill(prevDc, 0)
        }
        var comp = 0
        while (comp < nComp) {
          // extract the component's 8×8 block, edge-clamped (the
          // standard pad choice: replicating edges adds no spurious
          // high frequencies), level-shifted by −128
          var by = 0
          while (by < 8) {
            val py = math.min(my * 8 + by, height - 1)
            var bx = 0
            while (bx < 8) {
              val px = math.min(mx * 8 + bx, width - 1)
              val o = (py * width + px) * 3
              val r = rgb(o) & 0xff
              val g = rgb(o + 1) & 0xff
              val b = rgb(o + 2) & 0xff
              // JFIF full-range color transform
              val v = comp match {
                case 0 => 0.299 * r + 0.587 * g + 0.114 * b
                case 1 => -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
                case _ => 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
              }
              block(by * 8 + bx) = v - 128.0
              bx += 1
            }
            by += 1
          }
          val coef = fdct(block)
          val qt = if (comp == 0) qLuma else qChroma
          var k = 0
          while (k < 64) {
            val nat = ZZ(k)
            qz(k) = math.round(coef(nat) / qt(nat)).toInt
            k += 1
          }
          val (dcC, dcS, acC, acS) =
            if (comp == 0) (dcLumaCode, dcLumaSize, acLumaCode, acLumaSize)
            else (dcChromaCode, dcChromaSize, acChromaCode, acChromaSize)
          val diff = qz(0) - prevDc(comp)
          prevDc(comp) = qz(0)
          val t = nbits(diff)
          bw.put(dcC(t), dcS(t))
          if (t > 0) bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
          var run = 0
          k = 1
          while (k < 64) {
            val v = qz(k)
            if (v == 0) run += 1
            else {
              while (run >= 16) { bw.put(acC(0xf0), acS(0xf0)); run -= 16 }
              val s = nbits(v)
              val sym = (run << 4) | s
              bw.put(acC(sym), acS(sym))
              bw.put(if (v < 0) v + (1 << s) - 1 else v, s)
              run = 0
            }
            k += 1
          }
          if (run > 0) bw.put(acC(0x00), acS(0x00)) // EOB
          comp += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  // --------------------------------------------------------- decoder

  private final class Corrupt(val reason: String)
    extends Exception(reason) { override def fillInStackTrace(): Throwable = this }

  /** Canonical Huffman DECODE table (spec F.2.2.3): per code length,
    * min/max code and the index of its first value.
    */
  private final class HuffDecode(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = Array.fill(17)(-1)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1); k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
      if (k != vals.length) throw new Corrupt("huffman BITS/VALS mismatch")
    }
  }

  /** Entropy-coded-segment reader: unstuffs 0xFF 0x00, surfaces restart
    * markers to the caller, and treats any other marker (or EOF) inside
    * the scan as corruption.
    */
  private final class BitReader(bytes: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    /** Set when the reader hits 0xFF D0–D7; cleared by [[restart]]. */
    var pendingRst: Int = -1
    def nextBit(): Int = {
      if (n == 0) {
        if (pendingRst >= 0)
          throw new Corrupt("entropy data continues across a restart marker")
        if (pos >= bytes.length) throw new Corrupt("entropy stream truncated")
        val b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) throw new Corrupt("truncated after 0xFF")
          val m = bytes(pos) & 0xff; pos += 1
          if (m == 0x00) () // stuffed literal 0xFF
          else if (m >= 0xd0 && m <= 0xd7) {
            // restart marker reached while the caller still wants bits:
            // only legal when the caller consumes it via restart()
            pendingRst = m - 0xd0
            throw new Corrupt("unexpected restart marker mid-block")
          } else throw new Corrupt(f"marker 0xFF$m%02X inside entropy data")
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0
      var i = 0
      while (i < t) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    /** Consume the expected restart marker `k` (mod 8), discarding pad
      * bits, and reset the bit buffer (spec F.2.1.3.1).
      */
    def restart(k: Int): Unit = {
      n = 0 // byte-align: pad bits before RST are discarded
      if (pendingRst < 0) {
        // marker not yet met while decoding — it must be next in the stream
        if (pos + 1 >= bytes.length) throw new Corrupt("missing restart marker")
        if ((bytes(pos) & 0xff) != 0xff) throw new Corrupt("missing restart marker")
        val m = bytes(pos + 1) & 0xff
        if (m < 0xd0 || m > 0xd7) throw new Corrupt(f"expected RST, got 0xFF$m%02X")
        pendingRst = m - 0xd0
        pos += 2
      }
      if (pendingRst != (k % 8))
        throw new Corrupt(s"restart marker out of order: RST$pendingRst, wanted RST${k % 8}")
      pendingRst = -1
    }
  }

  private def decodeHuffSym(br: BitReader, tbl: HuffDecode): Int = {
    var code = br.nextBit()
    var l = 1
    while (code > tbl.maxCode(l)) {
      if (l >= 16) throw new Corrupt("huffman code longer than 16 bits")
      code = (code << 1) | br.nextBit()
      l += 1
    }
    tbl.vals(tbl.valPtr(l) + code - tbl.minCode(l))
  }

  @inline private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Decode a baseline JPEG. Accepts the profile any baseline encoder
    * may emit within this decoder's declared scope: sequential DCT
    * (SOF0), 8-bit samples, 1 or 3 components, NO chroma subsampling
    * (all sampling factors 1×1 — what [[encodeJpeg]] writes), optional
    * restart intervals, APPn/COM chunks skipped. Everything else —
    * progressive scans, 12-bit precision, 16-bit quantizers, 4:2:0 —
    * is a reasoned `Left`, never a garbage decode.
    */
  def decodeJpeg(bytes: Array[Byte]): Either[String, JpegImage] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8)
      return Left("not a jpeg (bad SOI)")
    try {
      var pos = 2
      def need(k: Int): Unit =
        if (pos + k > bytes.length) throw new Corrupt("truncated segment")
      def u8(): Int = { need(1); val v = bytes(pos) & 0xff; pos += 1; v }
      def u16(): Int = { val h = u8(); (h << 8) | u8() }

      val quant = new Array[Array[Int]](4)
      val dcTabs = new Array[HuffDecode](4)
      val acTabs = new Array[HuffDecode](4)
      var width = -1
      var height = -1
      var nComp = 0
      val compQuant = new Array[Int](3) // quant table id per component
      val compId = new Array[Int](3)
      var restartInterval = 0
      var sofSeen = false

      // ---- marker segments up to SOS
      var inScan = false
      var scanDc: Array[HuffDecode] = null
      var scanAc: Array[HuffDecode] = null
      while (!inScan) {
        // markers may be preceded by fill bytes (0xFF)
        var m = u8()
        if (m != 0xff) throw new Corrupt(f"expected marker, got 0x$m%02X")
        do m = u8() while (m == 0xff)
        m match {
          case 0xd9 => throw new Corrupt("EOI before any scan")
          case 0xc0 => // SOF0 baseline
            if (sofSeen) throw new Corrupt("duplicate SOF")
            val len = u16()
            if (len < 8) throw new Corrupt("SOF too short")
            val precision = u8()
            if (precision != 8) throw new Corrupt(s"unsupported precision $precision")
            height = u16(); width = u16()
            if (width <= 0 || height <= 0)
              throw new Corrupt(s"bad dimensions ${width}x$height")
            if (width.toLong * height * 3 > (1L << 28))
              throw new Corrupt("image too large")
            nComp = u8()
            if (nComp != 1 && nComp != 3)
              throw new Corrupt(s"unsupported component count $nComp")
            if (len != 8 + 3 * nComp) throw new Corrupt("SOF length mismatch")
            var c = 0
            while (c < nComp) {
              compId(c) = u8()
              val hv = u8()
              if (hv != 0x11)
                throw new Corrupt(f"chroma subsampling 0x$hv%02X unsupported (4:4:4 only)")
              compQuant(c) = u8()
              if (compQuant(c) > 3) throw new Corrupt("bad quant table id")
              c += 1
            }
            sofSeen = true
          case 0xc4 => // DHT — possibly several tables in one segment
            val segLen = u16() // read BEFORE capturing pos: u16 advances it
            val end = pos + segLen - 2
            if (end > bytes.length) throw new Corrupt("DHT overruns file")
            while (pos < end) {
              val tcTh = u8()
              val tc = tcTh >> 4; val th = tcTh & 0x0f
              if (tc > 1 || th > 3) throw new Corrupt(s"bad DHT id $tcTh")
              val bits = Array.fill(16)(u8())
              val total = bits.sum
              if (total > 256 || pos + total > end)
                throw new Corrupt("DHT values overrun segment")
              val vals = Array.fill(total)(u8())
              val tbl = new HuffDecode(bits, vals)
              if (tc == 0) dcTabs(th) = tbl else acTabs(th) = tbl
            }
          case 0xdb => // DQT — possibly several tables in one segment
            val segLen = u16() // read BEFORE capturing pos: u16 advances it
            val end = pos + segLen - 2
            if (end > bytes.length) throw new Corrupt("DQT overruns file")
            while (pos < end) {
              val pqTq = u8()
              val pq = pqTq >> 4; val tq = pqTq & 0x0f
              if (pq != 0) throw new Corrupt("16-bit quantizers unsupported")
              if (tq > 3) throw new Corrupt(s"bad quant table id $tq")
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) { t(ZZ(k)) = u8(); k += 1 }
              if (t.exists(_ == 0)) throw new Corrupt("zero quantizer step")
              quant(tq) = t
            }
          case 0xdd => // DRI
            if (u16() != 4) throw new Corrupt("bad DRI length")
            restartInterval = u16()
          case 0xda => // SOS
            if (!sofSeen) throw new Corrupt("SOS before SOF")
            val len = u16()
            val ns = u8()
            if (ns != nComp) throw new Corrupt("scan component count != frame")
            if (len != 6 + 2 * ns) throw new Corrupt("SOS length mismatch")
            scanDc = new Array[HuffDecode](nComp)
            scanAc = new Array[HuffDecode](nComp)
            var c = 0
            while (c < ns) {
              val cs = u8()
              val ci = compId.indexOf(cs)
              if (ci < 0 || ci >= nComp) throw new Corrupt(s"scan references unknown component $cs")
              val tdTa = u8()
              val dc = dcTabs(tdTa >> 4)
              val ac = acTabs(tdTa & 0x0f)
              if (dc == null || ac == null) throw new Corrupt("scan references missing huffman table")
              scanDc(ci) = dc; scanAc(ci) = ac
              c += 1
            }
            val ss = u8(); val se = u8(); val ahAl = u8()
            if (ss != 0 || se != 63 || ahAl != 0)
              throw new Corrupt("progressive/partial scan unsupported")
            var i = 0
            while (i < nComp) {
              if (quant(compQuant(i)) == null)
                throw new Corrupt("frame references missing quant table")
              i += 1
            }
            inScan = true
          case sofN if (sofN >= 0xc1 && sofN <= 0xcf) && sofN != 0xc4 && sofN != 0xc8 && sofN != 0xcc =>
            throw new Corrupt(f"non-baseline frame 0xFF$sofN%02X unsupported")
          case _ => // APPn, COM, and other skippable segments
            val len = u16()
            if (len < 2) throw new Corrupt("bad segment length")
            need(len - 2); pos += len - 2
        }
      }

      // ---- entropy-coded scan
      val mcusX = (width + 7) / 8
      val mcusY = (height + 7) / 8
      val rgb = new Array[Byte](width * height * 3)
      val br = new BitReader(bytes, pos)
      val prevDc = new Array[Int](3)
      val coef = new Array[Double](64)
      // per-MCU decoded planes (4:4:4: one 8×8 block per component)
      val planes = Array.ofDim[Int](3, 64)
      var mcu = 0
      var rstCount = 0
      var my = 0
      while (my < mcusY) {
        var mx = 0
        while (mx < mcusX) {
          if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
            br.restart(rstCount)
            rstCount += 1
            java.util.Arrays.fill(prevDc, 0)
          }
          var comp = 0
          while (comp < nComp) {
            java.util.Arrays.fill(coef, 0.0)
            val qt = quant(compQuant(comp))
            val t = decodeHuffSym(br, scanDc(comp))
            if (t > 11) throw new Corrupt(s"DC category $t out of range")
            prevDc(comp) += extend(br.receive(t), t)
            coef(0) = prevDc(comp).toDouble * qt(0)
            var k = 1
            var open = true
            while (open && k < 64) {
              val rs = decodeHuffSym(br, scanAc(comp))
              val r = rs >> 4
              val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 // ZRL
                else open = false    // EOB
              } else {
                k += r
                if (k > 63) throw new Corrupt("AC run overruns block")
                val nat = ZZ(k)
                coef(nat) = extend(br.receive(s), s).toDouble * qt(nat)
                k += 1
              }
            }
            val px = idct(coef)
            val plane = planes(comp)
            var i = 0
            while (i < 64) {
              plane(i) = clamp255(math.round(px(i) + 128.0).toInt)
              i += 1
            }
            comp += 1
          }
          // color-convert the MCU into the output raster
          var by = 0
          while (by < 8) {
            val py = my * 8 + by
            if (py < height) {
              var bx = 0
              while (bx < 8) {
                val pxx = mx * 8 + bx
                if (pxx < width) {
                  val o = (py * width + pxx) * 3
                  if (nComp == 1) {
                    val yv = planes(0)(by * 8 + bx)
                    rgb(o) = yv.toByte; rgb(o + 1) = yv.toByte; rgb(o + 2) = yv.toByte
                  } else {
                    val yv = planes(0)(by * 8 + bx).toDouble
                    val cb = planes(1)(by * 8 + bx) - 128.0
                    val cr = planes(2)(by * 8 + bx) - 128.0
                    rgb(o) = clamp255(math.round(yv + 1.402 * cr).toInt).toByte
                    rgb(o + 1) = clamp255(math.round(yv - 0.344136 * cb - 0.714136 * cr).toInt).toByte
                    rgb(o + 2) = clamp255(math.round(yv + 1.772 * cb).toInt).toByte
                  }
                }
                bx += 1
              }
            }
            by += 1
          }
          mcu += 1
          mx += 1
        }
        my += 1
      }
      // ---- trailer: the next marker must be EOI (pad bits discarded)
      var p = br.pos
      if (br.pendingRst >= 0) throw new Corrupt("trailing restart marker")
      while (p + 1 < bytes.length && (bytes(p) & 0xff) == 0xff &&
             (bytes(p + 1) & 0xff) == 0xff) p += 1 // fill bytes
      if (p + 1 >= bytes.length || (bytes(p) & 0xff) != 0xff ||
          (bytes(p + 1) & 0xff) != 0xd9)
        throw new Corrupt("missing EOI after scan")
      Right(JpegImage(width, height, rgb))
    } catch {
      case c: Corrupt => Left(c.reason)
      case _: ArrayIndexOutOfBoundsException => Left("truncated jpeg")
    }
  }
}
