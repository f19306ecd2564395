package graft.multimodal

/** Baseline JPEG (ITU-T T.81, sequential DCT, 8-bit, Huffman) — the
  * THIRD compressed format behind the real-codec boundary, and the
  * last feasible rung of the codec ladder: the entropy coder
  * (canonical Huffman per T.81 Annex C/F) and the integer DCT pair
  * are implemented here from the public spec with no library
  * involvement at all (PNG rides the JDK's zlib; GIF's LZW and this
  * are all ours). This is the payload format real video pipelines
  * actually hit — the reference's cv2 frame-decode loop
  * (raw_to_samples.py:173-196) reads JPEG-family codecs in practice,
  * and M-JPEG AVI ([[Jpeg.aviEncodeMjpeg]] / [[Jpeg.MjpegAviDecoder]])
  * puts these scans inside the engine's one AVI muxer and stream-header
  * parse ([[Codecs.aviMux]], [[Codecs.aviParse]]).
  *
  * JPEG is LOSSY, so the oracle convention differs from PNG/GIF: the
  * catalog op's rasters are CONSTANT per 8x8 block with even sample
  * values, for which the whole transform chain is exactly invertible
  * — FDCT of a constant block is DC-only with coefficient
  * 8*(v-128); the Annex K.1 luminance quantizer for DC is 16, so
  * even v quantizes without remainder; and the fixed-point IDCT maps
  * a DC-only block with dc = 8k back to the constant k+128 exactly
  * (proven exhaustively for every k in [-128,127] in
  * MultimodalJpegSpec). Decoded sums are therefore replayable
  * closed-form arithmetic, per the ORACLES.md estimator convention;
  * general (non-constant) content is covered by tolerance round-trip
  * and cross-implementation conformance specs instead of the oracle.
  *
  * Both DCTs are one shared fixed-point kernel: T(u,x) =
  * round(2^15 * C(u)/2 * cos((2x+1)u*pi/16)) (T.81 A.3.3's basis,
  * scaled), applied separably with 64-bit accumulation and a single
  * final rounding descale by 2^30 — no intermediate rounding, so the
  * exactness analysis in the scaladoc above holds bit-for-bit.
  */
object Jpeg {

  // ----------------------------------------------------------------
  // Spec tables (ITU-T T.81 Annex K — example tables, the de-facto
  // interchange standard emitted by libjpeg and ImageIO alike).
  // ----------------------------------------------------------------

  /** Natural index of zigzag position k (T.81 Figure 5). */
  private[graft] val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** K.1 luminance quantization table, natural (row-major) order.
    * The DC quantizer 16 is what makes even constant blocks exact. */
  val QLum: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** K.2 chrominance quantization table, natural order. */
  val QChr: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  // K.3: BITS (codes per length 1..16) + HUFFVAL for the four
  // standard tables.
  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).map(_.toByte).toArray
  private val DcChrBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChrVals = (0 to 11).map(_.toByte).toArray
  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)
  private val AcChrBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChrVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)

  // ----------------------------------------------------------------
  // Fixed-point DCT kernel, shared by FDCT and IDCT.
  // ----------------------------------------------------------------

  /** T(u*8+x) = round(2^15 * C(u)/2 * cos((2x+1)u*pi/16)), the T.81
    * A.3.3 basis scaled to 15 fractional bits (worst-case pass-2
    * accumulation stays under 2^53, well inside Long). StrictMath
    * keeps the table construction platform-deterministic. */
  private val Kern: Array[Int] = {
    val t = new Array[Int](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / StrictMath.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = StrictMath.round(32768.0 * cu / 2.0 *
          StrictMath.cos((2 * x + 1) * u * StrictMath.PI / 16.0)).toInt
        x += 1
      }
      u += 1
    }
    t
  }

  /** Inverse DCT of one dequantized block (T.81 natural order: row
    * index = VERTICAL frequency v, column index = horizontal
    * frequency u) into 0..255 samples: out(x,y) =
    * clamp(round(sum_v sum_u T(v,y) T(u,x) S(v*8+u) / 2^30) + 128).
    * Both separable passes accumulate in Long with ONE final
    * rounding, so DC-only blocks with dc = 8k decode to exactly
    * k+128 (|error| <= k*(2^30 - 11585^2*8)/2^30 < 0.006). */
  private[graft] def idctBlock(coef: Array[Int],
      out: Array[Int]): Unit = {
    // pass 1 (columns): m(u, y) = sum_v T(v, y) * S(v*8 + u)
    val m = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0L
        var v = 0
        while (v < 8) { acc += Kern(v * 8 + y).toLong * coef(v * 8 + u); v += 1 }
        m(u * 8 + y) = acc
        y += 1
      }
      u += 1
    }
    // pass 2 (rows): s(x, y) = sum_u T(u, x) * m(u, y)
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0L
        var uu = 0
        while (uu < 8) { acc += Kern(uu * 8 + x) * m(uu * 8 + y); uu += 1 }
        val s = (((acc + (1L << 29)) >> 30) + 128).toInt
        out(y * 8 + x) = if (s < 0) 0 else if (s > 255) 255 else s
        y += 1
      }
      x += 1
    }
  }

  /** Forward DCT of one level-shifted block (natural order, values in
    * [-128,127]): S(v*8+u) = round(sum_y T(v,y) sum_x T(u,x)
    * s'(y*8+x) / 2^30) — row index vertical frequency, matching
    * [[idctBlock]] and the interchange convention. Constant blocks
    * yield an exactly DC-only spectrum (|quantization-relevant AC
    * leakage| < 0.1, rounds to 0). */
  private def fdctBlock(px: Array[Int], out: Array[Int]): Unit = {
    // pass 1 (columns): m(v, x) = sum_y T(v, y) * s'(y*8 + x)
    val m = new Array[Long](64)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var acc = 0L
        var y = 0
        while (y < 8) { acc += Kern(v * 8 + y).toLong * px(y * 8 + x); y += 1 }
        m(v * 8 + x) = acc
        x += 1
      }
      v += 1
    }
    // pass 2 (rows): S(v*8 + u) = sum_x T(u, x) * m(v, x)
    var vv = 0
    while (vv < 8) {
      var u = 0
      while (u < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) { acc += Kern(u * 8 + x) * m(vv * 8 + x); x += 1 }
        out(vv * 8 + u) = ((acc + (1L << 29)) >> 30).toInt
        u += 1
      }
      vv += 1
    }
  }

  // ----------------------------------------------------------------
  // Canonical Huffman code generation (T.81 Annex C) — shared by the
  // encoder (symbol -> code) and the decoder (MINCODE/MAXCODE/VALPTR).
  // ----------------------------------------------------------------

  /** Encoder-side table: code word + length per symbol value. */
  private final class HuffEnc(val bits: Array[Int], val vals: Array[Byte]) {
    val codeOf = new Array[Int](256)
    val lenOf = new Array[Int](256)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l - 1)) {
          codeOf(vals(k) & 0xff) = code
          lenOf(vals(k) & 0xff) = l
          code += 1; k += 1; i += 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  /** Decoder-side table per T.81 F.2.2.3: walk code lengths with
    * MINCODE/MAXCODE/VALPTR. Rejects over-subscribed BITS. */
  private final class HuffDec(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val huffVal = vals
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        require(bits(l - 1) >= 0 && bits(l - 1) <= 255, "bad DHT BITS")
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) > 0) code - 1 else -1
        require(code <= (1 << l), s"over-subscribed Huffman BITS at length $l")
        code <<= 1
        l += 1
      }
      require(k == vals.length, "DHT BITS sum != HUFFVAL count")
    }

    /** The next symbol of `br` (F.2.2.3 DECODE). */
    def decode(br: BitReader): Int = {
      var code = br.nextBit()
      var l = 1
      while (code > maxCode(l)) {
        require(l < 16, "invalid Huffman code in entropy data")
        code = (code << 1) | br.nextBit()
        l += 1
      }
      huffVal(valPtr(l) + code - minCode(l)) & 0xff
    }
  }

  // ----------------------------------------------------------------
  // Bit IO over the entropy-coded segment.
  // ----------------------------------------------------------------

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var buf = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        buf = (buf << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(buf)
          if (buf == 0xff) out.write(0) // byte stuffing (B.1.1.5)
          buf = 0; n = 0
        }
        i -= 1
      }
    }
    /** The code of `sym` in table `t`. */
    def code(t: HuffEnc, sym: Int): Unit = put(t.codeOf(sym), t.lenOf(sym))
    /** The `s` magnitude bits of `v` (F.1.2.1: a negative value as
      * v - 1 in s bits). */
    def bits(v: Int, s: Int): Unit =
      put(if (v < 0) v + (1 << s) - 1 else v, s)
    /** Pad the final byte with 1-bits (B.1.1.5). */
    def flush(): Unit = if (n > 0) put((1 << (8 - n)) - 1, 8 - n)
  }

  /** MSB-first bit reader with 0xFF00 unstuffing. Any marker inside
    * the entropy data, or running off the end, fails fast — the
    * external-bytes contract (IllegalArgumentException only). */
  private final class BitReader(b: Array[Byte], var pos: Int, end: Int) {
    private var buf = 0
    private var n = 0
    def nextBit(): Int = {
      if (n == 0) {
        require(pos < end, "truncated JPEG entropy data")
        var byte = b(pos) & 0xff
        pos += 1
        if (byte == 0xff) {
          require(pos < end, "truncated JPEG entropy data")
          val m = b(pos) & 0xff
          require(m == 0, f"marker 0xff$m%02x inside entropy data")
          pos += 1
        }
        buf = byte; n = 8
      }
      n -= 1
      (buf >> n) & 1
    }
    def receive(t: Int): Int = {
      var v = 0
      var i = 0
      while (i < t) { v = (v << 1) | nextBit(); i += 1 }
      v
    }
    def align(): Unit = n = 0
  }

  /** EXTEND (T.81 F.2.2.1): map the t received magnitude bits to the
    * signed coefficient value. */
  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def bitLength(v: Int): Int = 32 - Integer.numberOfLeadingZeros(v)

  // ----------------------------------------------------------------
  // Encoder.
  // ----------------------------------------------------------------

  /** Byte length of everything OUTSIDE the entropy-coded segment in
    * [[encodeGray]]'s output (SOI 2 + APP0 18 + DQT 69 + SOF0 13 +
    * DHT 33+183 + SOS 10 + EOI 2) — the `compressed` checked column
    * bounds the real file against this + the raw 8-bpp plane. */
  val GrayHeaderLen: Int = 330

  private def wbe16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }

  /** Per table set (0 = luminance, 1 = chrominance): the K.1/K.2
    * quantizer and the K.3 DC and AC Huffman tables. */
  private val Quant = Array(QLum, QChr)
  private val DcEnc =
    Array(new HuffEnc(DcLumBits, DcLumVals), new HuffEnc(DcChrBits, DcChrVals))
  private val AcEnc =
    Array(new HuffEnc(AcLumBits, AcLumVals), new HuffEnc(AcChrBits, AcChrVals))

  /** The 32 symbols an AC SUCCESSIVE-APPROXIMATION refinement scan
    * can emit (G.1.2.3): EOBn for n=0..14, ZRL, and (r,1) for
    * r=0..15 — the stock Annex K AC table lacks the EOBn codes, so
    * SA scans carry their own canonical table (31 codes at 5 bits +
    * one at 6; Kraft 63/64, the all-ones code stays reserved per
    * C.2). */
  private val AcRefEnc = new HuffEnc(
    Array(0, 0, 0, 0, 31, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0), {
      val b = new Array[Byte](32)
      var i = 0
      while (i < 15) { b(i) = (i << 4).toByte; i += 1 } // EOBn
      b(15) = 0xf0.toByte                               // ZRL
      var r = 0
      while (r < 16) { b(16 + r) = ((r << 4) | 1).toByte; r += 1 }
      b
    })

  /** One component of a frame being encoded: sampling factors h x v,
    * table set t (it picks the DQT and both DHTs), and its sample at
    * full-resolution pixel (x, y). */
  private final case class Component(h: Int, v: Int, t: Int,
      sample: (Int, Int) => Int)

  /** The one JPEG frame writer: SOI, APP0 (JFIF 1.1, no density, no
    * thumbnail), a DQT per table set in use, SOFn (`sof` 0xc0 baseline,
    * 0xc2 progressive; component c has id c + 1), a DC and an AC DHT
    * per table set (plus the refinement AC table as AC table 1 when
    * `refine`), a DRI when `restart` > 0, then the scans `scans` writes,
    * then EOI. */
  private def frame(width: Int, height: Int, sof: Int,
      comps: Seq[Component], restart: Int = 0, refine: Boolean = false)(
      scans: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 65535 && height <= 65535,
      s"JPEG dims ${width}x$height outside the 16-bit SOF fields")
    require(restart >= 0 && restart <= 65535, s"bad DRI $restart")
    val out = new java.io.ByteArrayOutputStream()
    val sets = comps.map(_.t).distinct
    marker(out, 0xd8) // SOI
    marker(out, 0xe0); wbe16(out, 16)
    out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0)
    wbe16(out, 1); wbe16(out, 1); out.write(0); out.write(0)
    sets.foreach { t =>
      marker(out, 0xdb); wbe16(out, 67); out.write(t) // Pq=0 (8-bit), Tq=t
      Zigzag.foreach(nat => out.write(Quant(t)(nat)))
    }
    marker(out, sof); wbe16(out, 8 + 3 * comps.length)
    out.write(8); wbe16(out, height); wbe16(out, width)
    out.write(comps.length)
    comps.zipWithIndex.foreach { case (k, c) =>
      out.write(c + 1); out.write((k.h << 4) | k.v); out.write(k.t)
    }
    def dht(clazz: Int, id: Int, h: HuffEnc): Unit = {
      marker(out, 0xc4); wbe16(out, 2 + 17 + h.vals.length)
      out.write((clazz << 4) | id)
      h.bits.foreach(out.write(_))
      out.write(h.vals, 0, h.vals.length)
    }
    sets.foreach { t => dht(0, t, DcEnc(t)); dht(1, t, AcEnc(t)) }
    if (refine) dht(1, 1, AcRefEnc)
    if (restart > 0) { marker(out, 0xdd); wbe16(out, 4); wbe16(out, restart) }
    scans(out)
    marker(out, 0xd9) // EOI
    out.toByteArray
  }

  /** The one scan writer: SOS naming each scan component as (id,
    * Td << 4 | Ta), the spectral band [ss, se] and the
    * successive-approximation bits, then the entropy-coded segment
    * `code` writes through one BitWriter, padded to a byte. */
  private def scan(out: java.io.ByteArrayOutputStream, sel: Seq[(Int, Int)],
      ss: Int, se: Int, ah: Int, al: Int)(code: BitWriter => Unit): Unit = {
    marker(out, 0xda); wbe16(out, 6 + 2 * sel.length)
    out.write(sel.length)
    sel.foreach { case (id, tables) => out.write(id); out.write(tables) }
    out.write(ss); out.write(se); out.write((ah << 4) | al)
    val bw = new BitWriter(out)
    code(bw)
    bw.flush()
  }

  /** The components sampled onto the MCU grid of a width x height
    * raster: mcusX x mcusY MCUs of 8·hMax x 8·vMax pixels, pixels past
    * the raster edge-replicated (the standard encoder treatment of
    * partial boundary blocks). A component sampled below hMax x vMax
    * takes the mean, rounded half up, of the full-resolution samples
    * each of its samples covers (the 2x2 box mean of 4:2:0 chroma — the
    * filter T.81 leaves to the encoder; the decoder's replication
    * upsample is its inverse on constant 2x2 quads). Returns mcusX,
    * mcusY and the planes, component c's mcusX·h·8 samples per row. */
  private def mcuGrid(width: Int, height: Int, comps: Seq[Component])
      : (Int, Int, Seq[Array[Int]]) = {
    val hMax = comps.map(_.h).max
    val vMax = comps.map(_.v).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    (mcusX, mcusY, comps.map { k =>
      val (sx, sy) = (hMax / k.h, vMax / k.v)
      val pw = mcusX * k.h * 8
      Array.tabulate(pw * mcusY * k.v * 8) { i =>
        var sum = 0
        var dy = 0
        while (dy < sy) {
          var dx = 0
          while (dx < sx) {
            sum += k.sample(math.min((i % pw) * sx + dx, width - 1),
              math.min((i / pw) * sy + dy, height - 1))
            dx += 1
          }
          dy += 1
        }
        (sum + sx * sy / 2) / (sx * sy)
      }
    })
  }

  /** FDCT + quantize one block; returns the 64 quantized coefficients
    * in ZIGZAG order. `plane` is the padded component plane. */
  private def quantBlock(plane: Array[Int], pw: Int, x0: Int, y0: Int,
      qNat: Array[Int], zz: Array[Int]): Unit = {
    val px = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        px(y * 8 + x) = plane((y0 + y) * pw + (x0 + x)) - 128
        x += 1
      }
      y += 1
    }
    val s = new Array[Int](64)
    fdctBlock(px, s)
    var k = 0
    while (k < 64) {
      val nat = Zigzag(k)
      val q = qNat(nat)
      val c = s(nat)
      // round half away from zero, deterministic integer arithmetic
      zz(k) = if (c >= 0) (c + q / 2) / q else -((-c + q / 2) / q)
      k += 1
    }
  }

  /** The DC first-scan coder, also the baseline DC (F.1.2.1): the
    * difference of `dc` from `pred` as its category code + magnitude
    * bits. Returns `dc`, the next predictor. */
  private def dcFirst(bw: BitWriter, dc: Int, pred: Int, t: HuffEnc): Int = {
    val diff = dc - pred
    val cat = bitLength(math.abs(diff))
    bw.code(t, cat)
    bw.bits(diff, cat)
    dc
  }

  /** The AC first-scan coder, also the baseline AC (F.1.2.2): band
    * [ss, se] of one zigzag block at point transform `al` (truncating
    * toward zero, G.1.2.1 — unlike DC's arithmetic shift) as run/size
    * codes + magnitude bits, a ZRL per 16 zeros before a nonzero, and
    * one EOB (a run of one block) when the band ends in zeros. */
  private def acFirst(bw: BitWriter, zz: Array[Int], ss: Int, se: Int,
      al: Int, t: HuffEnc): Unit = {
    var run = 0
    var k = ss
    while (k <= se) {
      val v = if (zz(k) < 0) -((-zz(k)) >> al) else zz(k) >> al
      if (v == 0) run += 1
      else {
        while (run >= 16) { bw.code(t, 0xf0); run -= 16 }
        val s = bitLength(math.abs(v))
        bw.code(t, (run << 4) | s)
        bw.bits(v, s)
        run = 0
      }
      k += 1
    }
    if (run > 0) bw.code(t, 0x00) // EOB
  }

  /** The AC refinement-scan coder (G.1.2.3) over band [ss, se] of every
    * block, Ah = al + 1, with the refinement table. At this scan's
    * precision a coefficient of magnitude 1 is new (its run of
    * zero-history positions, then its sign), one of magnitude >= 2 was
    * sent before and gets its correction bit (bit 0 of the magnitude)
    * where the decoder's advance reaches it, and blocks with nothing
    * new go as EOBn runs carrying their correction bits. */
  private def acRefine(bw: BitWriter, blocks: Array[Array[Int]], ss: Int,
      se: Int, al: Int): Unit = {
    var eobrun = 0
    val pending = new java.io.ByteArrayOutputStream() // one bit/byte
    def flushEob(): Unit = if (eobrun > 0) {
      val r = 31 - Integer.numberOfLeadingZeros(eobrun)
      bw.code(AcRefEnc, r << 4)
      bw.put(eobrun - (1 << r), r)
      pending.toByteArray.foreach(bit => bw.put(bit, 1))
      pending.reset(); eobrun = 0
    }
    blocks.foreach { zz =>
      def mag(p: Int): Int = math.abs(zz(p)) >> al
      var k = ss
      var blockOpen = true
      while (blockOpen && k <= se) {
        // next insertion position at or after k
        var j = k
        while (j <= se && mag(j) != 1) j += 1
        if (j > se) {
          // EOB region: the tail's correction bits ride the run
          var p = k
          while (p <= se) {
            if (mag(p) >= 2) pending.write(mag(p) & 1)
            p += 1
          }
          eobrun += 1
          if (eobrun == 32767) flushEob()
          blockOpen = false
        } else {
          flushEob()
          // ZRLs while >= 16 zero-history positions precede j; each
          // consumes exactly 16 zeros with crossed corrections
          // interleaved after its symbol (the decoder's advance)
          var segStart = k
          var emitted = false
          while (!emitted) {
            var zc = 0
            var p = segStart
            while (p < j) { if (mag(p) == 0) zc += 1; p += 1 }
            if (zc < 16) {
              bw.code(AcRefEnc, (zc << 4) | 1)
              bw.put(if (zz(j) > 0) 1 else 0, 1) // sign of +-1
              p = segStart
              while (p < j) {
                if (mag(p) >= 2) bw.put(mag(p) & 1, 1)
                p += 1
              }
              emitted = true
            } else {
              bw.code(AcRefEnc, 0xf0)
              var consumed = 0
              p = segStart
              while (consumed < 16) {
                if (mag(p) == 0) consumed += 1
                else bw.put(mag(p) & 1, 1)
                p += 1
              }
              segStart = p
            }
          }
          k = j + 1
        }
      }
    }
    flushEob()
  }

  /** The three baseline encoders' one body: SOF0 and a single
    * interleaved sequential scan over the components in MCU order
    * (T.81 A.2.3: each component's h x v blocks in raster order), each
    * block FDCT-quantized and coded as its DC difference and AC
    * run/size codes. Every `restart` MCUs the entropy stream
    * byte-aligns, emits the cycling RST0-7 marker, and resets the DC
    * predictors (T.81 B.2.4.4/E.1.4). */
  private def baseline(width: Int, height: Int, comps: Seq[Component],
      restart: Int = 0): Array[Byte] =
    frame(width, height, 0xc0, comps, restart) { out =>
      val (mcusX, mcusY, planes) = mcuGrid(width, height, comps)
      val zz = new Array[Int](64)
      val preds = new Array[Int](comps.length)
      scan(out, comps.indices.map(c => (c + 1, comps(c).t * 0x11)),
        0, 63, 0, 0) { bw =>
        var mcu = 0
        while (mcu < mcusX * mcusY) {
          val (mx, my) = (mcu % mcusX, mcu / mcusX)
          for (c <- comps.indices; k = comps(c); j <- 0 until k.v;
              i <- 0 until k.h) {
            quantBlock(planes(c), mcusX * k.h * 8, (mx * k.h + i) * 8,
              (my * k.v + j) * 8, Quant(k.t), zz)
            preds(c) = dcFirst(bw, zz(0), preds(c), DcEnc(k.t))
            acFirst(bw, zz, 1, 63, 0, AcEnc(k.t))
          }
          mcu += 1
          if (restart > 0 && mcu % restart == 0 && mcu < mcusX * mcusY) {
            bw.flush() // byte-align before the marker
            marker(out, 0xd0 + (mcu / restart - 1) % 8)
            java.util.Arrays.fill(preds, 0)
          }
        }
      }
    }

  /** One scan of a progressive script: spectral band [ss, se] and
    * successive-approximation bits ah (0 in a band's first scan), al. */
  private final case class ScanStep(ss: Int, se: Int, ah: Int, al: Int)

  /** The two progressive encoders' one body: SOF2, every block of the
    * gray plane quantized once, then the `script`'s scans in order, each
    * by the coder of its kind — DC first, AC first, DC refine (one raw
    * bit per block: (c >> 1) << 1 | (c & 1) == c for either sign), AC
    * refine — over the blocks in raster order. Only AC refinement scans
    * use the refinement table, as AC table 1. */
  private def progressive(width: Int, height: Int, gray: Array[Byte],
      script: Seq[ScanStep]): Array[Byte] = {
    val comps = Seq(grayComponent(width, height, gray))
    def refining(s: ScanStep) = s.ss > 0 && s.ah > 0
    frame(width, height, 0xc2, comps, refine = script.exists(refining)) {
      out =>
        val (mcusX, mcusY, planes) = mcuGrid(width, height, comps)
        val blocks = Array.tabulate(mcusX * mcusY) { bi =>
          val zz = new Array[Int](64)
          quantBlock(planes.head, mcusX * 8, (bi % mcusX) * 8,
            (bi / mcusX) * 8, QLum, zz)
          zz
        }
        script.foreach { s =>
          scan(out, Seq((1, if (refining(s)) 0x01 else 0x00)), s.ss, s.se,
            s.ah, s.al) { bw =>
            if (refining(s)) acRefine(bw, blocks, s.ss, s.se, s.al)
            else if (s.ss > 0)
              blocks.foreach(acFirst(bw, _, s.ss, s.se, s.al, AcEnc(0)))
            else if (s.ah > 0)
              blocks.foreach(zz => bw.put((zz(0) >> s.al) & 1, 1))
            else blocks.foldLeft(0)((pred, zz) =>
              dcFirst(bw, zz(0) >> s.al, pred, DcEnc(0)))
          }
        }
    }
  }

  /** An 8-bit grayscale plane (row-major, w*h bytes) as one luminance
    * component, 1x1 sampling. */
  private def grayComponent(width: Int, height: Int,
      gray: Array[Byte]): Component = {
    require(gray.length == width.toLong * height,
      s"plane length ${gray.length} != $width x $height")
    Component(1, 1, 0, (x, y) => gray(y * width + x) & 0xff)
  }

  /** Integer BT.601 forward conversion at one pixel, clamped to the
    * [0,255] sample range T.81 assumes (saturated primaries can round
    * to 256: pure blue's Cb and pure red's Cr). The coefficients sum
    * exactly per channel, so gray inputs (R=G=B) map to Y=v,
    * Cb=Cr=128 without rounding loss. sel: 0=Y, 1=Cb, 2=Cr. */
  private def yccAt(rgb: Array[Byte], width: Int, sel: Int,
      x: Int, y: Int): Int = {
    val base = (y * width + x) * 3
    val r = rgb(base) & 0xff
    val g = rgb(base + 1) & 0xff
    val b = rgb(base + 2) & 0xff
    val v = sel match {
      case 0 => (19595 * r + 38470 * g + 7471 * b + 32768) >> 16
      case 1 => 128 + ((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16)
      case _ => 128 + ((32768 * r - 27439 * g - 5329 * b + 32768) >> 16)
    }
    if (v < 0) 0 else if (v > 255) 255 else v
  }

  /** A top-down RGB raster as Y (luminance tables, `yh` x `yh`
    * sampling) + Cb + Cr (chrominance tables, 1x1). */
  private def yccComponents(width: Int, height: Int, rgb: Array[Byte],
      yh: Int): Seq[Component] = {
    require(rgb.length == 3L * width * height,
      s"raster length ${rgb.length} != $width x $height x 3")
    Component(yh, yh, 0, yccAt(rgb, width, 0, _, _)) +:
      (1 to 2).map(sel => Component(1, 1, 1, yccAt(rgb, width, sel, _, _)))
  }

  /** Encode an 8-bit grayscale plane (row-major, w*h bytes) as a
    * baseline JFIF JPEG: SOI, APP0, K.1 luminance DQT, SOF0 (one
    * component, 1x1 sampling), the two K.3 luminance DHTs, a single
    * interleaved SOS, byte-stuffed entropy data, EOI. */
  def encodeGray(width: Int, height: Int, gray: Array[Byte]): Array[Byte] =
    encodeGray(width, height, gray, 0)

  /** [[encodeGray]] with a DRI restart interval: every `restart` MCUs
    * the entropy stream byte-aligns, emits the cycling RST0-7 marker,
    * and resets the DC predictor (T.81 B.2.4.4/E.1.4) — the
    * resilience feature real camera JPEGs carry; 0 = none. */
  def encodeGray(width: Int, height: Int, gray: Array[Byte],
      restart: Int): Array[Byte] =
    baseline(width, height, Seq(grayComponent(width, height, gray)), restart)

  /** Encode an 8-bit grayscale plane as a PROGRESSIVE JPEG (SOF2,
    * T.81 Annex G.2) with the simplest legal spectral-selection
    * progression: scan 1 carries the complete DC band ([0,0], Ah=Al=0)
    * and scan 2 the complete AC band ([1,63], Ah=Al=0) — no
    * successive approximation, every EOB an EOB0. The quantized
    * coefficients are IDENTICAL to [[encodeGray]]'s (same DQT, same
    * FDCT, same half-away quantizer), so decoding the progressive
    * stream must reproduce the baseline decode bit-for-bit — the
    * cross-mode equivalence theorem MultimodalJpegSpec pins, and the
    * reason the invertible-class oracle carries over unchanged. */
  def encodeGrayProgressive(width: Int, height: Int,
      gray: Array[Byte]): Array[Byte] =
    progressive(width, height, gray,
      Seq(ScanStep(0, 0, 0, 0), ScanStep(1, 63, 0, 0)))

  /** Encode an 8-bit grayscale plane as a SIX-SCAN progressive JPEG
    * with spectral selection AND successive approximation (T.81
    * G.1.2): DC first at Al=1, AC first scans for the [1,5] and
    * [6,63] bands at Al=1, then the DC refinement bit and the two AC
    * refinement scans at Ah=1/Al=0 — real EOB runs (dedicated
    * refinement Huffman table carrying the EOBn codes the stock
    * Annex K table lacks), correction bits interleaved exactly as
    * G.1.2.3's advance walk reads them, and +-1 insertions over
    * zero-history positions. The point transform loses nothing by
    * the time the progression completes (DC: arithmetic shift +
    * correction bit; AC: truncate-toward-zero halving + correction
    * bit for |c| >= 2, +-1 insertion for |c| == 1), so the final
    * coefficients equal [[encodeGray]]'s exactly and the decode is
    * byte-identical to baseline — the same cross-mode equivalence
    * theorem [[encodeGrayProgressive]] pins, now through the
    * refinement paths. */
  def encodeGrayProgressiveSA(width: Int, height: Int,
      gray: Array[Byte]): Array[Byte] =
    progressive(width, height, gray, Seq(ScanStep(0, 0, 0, 1),
      ScanStep(1, 5, 0, 1), ScanStep(6, 63, 0, 1), ScanStep(0, 0, 1, 0),
      ScanStep(1, 5, 1, 0), ScanStep(6, 63, 1, 0)))

  /** Encode a top-down RGB raster as a baseline 4:4:4 YCbCr JPEG
    * (three components, 1x1 sampling each, K.1/K.2 quantizers, all
    * four K.3 Huffman tables, one interleaved scan). The integer
    * BT.601 conversion coefficients sum exactly per channel, so gray
    * inputs (R=G=B) map to Y=v, Cb=Cr=128 without rounding loss. */
  def encodeColor444(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
    baseline(width, height, yccComponents(width, height, rgb, 1))

  /** Encode a top-down RGB raster as a baseline 4:2:0 YCbCr JPEG —
    * the subsampling real pipelines actually emit: Y at full
    * resolution (sampling factors 2x2), Cb/Cr box-averaged 2x2
    * (1x1), MCU = 16x16 pixels = 4 Y blocks + Cb + Cr in the T.81
    * A.2.3 interleave order. Chroma downsamples as the 2x2 box mean
    * of the edge-replicated full-resolution plane (round half up) —
    * the filter T.81 leaves to the encoder; the decoder's
    * replication upsample is its inverse on constant 2x2 quads.
    * Gray inputs (R=G=B) have Cb=Cr=128 everywhere, so the
    * invertible-class analysis extends unchanged to subsampled
    * color — proven per class in the 4:2:0 round-trip spec. */
  def encodeColor420(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] =
    baseline(width, height, yccComponents(width, height, rgb, 2))

  // ----------------------------------------------------------------
  // Decoder.
  // ----------------------------------------------------------------

  /** Huffman JPEG decoder: baseline sequential (SOF0, T.81 §F.2) and
    * — since round 12 — PROGRESSIVE (SOF2, T.81 Annex G.2: spectral
    * selection + successive approximation, DC/AC first and refinement
    * scans, EOB runs, multi-scan DHT/DQT/DRI re-definition). 8-bit,
    * 1 or 3 components, sampling factors 1..2, DRI/RSTn restart
    * intervals, APPn/COM skipped, every marker length validated.
    * Arithmetic coding (SOF9/SOF10) and hierarchical mode stay
    * fail-fast out of scope. Output is a top-down RGB raster
    * (grayscale replicates; 3-component output converts from YCbCr
    * with the integer BT.601 inverse, chroma upsampled by
    * replication). External-bytes contract: any malformed input fails
    * fast with IllegalArgumentException — never any other throwable.
    * Conformance: ImageIO's progressive writer output (gray and
    * subsampled color) decodes within the foreign-bytes tolerances
    * (MultimodalJpegSpec). */
  final class JpegDecoder extends Codecs.ImageDecoder {

    def decode(b: Array[Byte]): Codecs.DecodedImage = {
      require(b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8,
        "not a JPEG (missing SOI)")
      var pos = 2

      def be16(off: Int): Int = {
        require(off + 2 <= b.length, "truncated JPEG marker segment")
        ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      }

      // T.81 B.1.1.2 permits any number of 0xFF fill bytes before a
      // marker: the offset of the last 0xFF of the run starting at p
      def skipFill(p: Int): Int = {
        var q = p
        while (q + 1 < b.length && (b(q) & 0xff) == 0xff &&
          (b(q + 1) & 0xff) == 0xff) q += 1
        q
      }

      val qTabs = new Array[Array[Int]](4) // zigzag order, as stored
      val dcTabs = new Array[HuffDec](4)
      val acTabs = new Array[HuffDec](4)
      var restartInterval = 0
      var width = 0; var height = 0
      var nComp = 0
      // per component: id, h, v, tq (from SOF0); td, ta (from SOS)
      var cId: Array[Int] = null
      var cH: Array[Int] = null
      var cV: Array[Int] = null
      var cTq: Array[Int] = null
      var cTd: Array[Int] = null
      var cTa: Array[Int] = null
      var sawSof = false
      var progressive = false
      var scanStart = -1
      // SOS parameters of the most recently parsed scan header
      var scanNs = 0
      var scanCi: Array[Int] = null // frame-component index per scan slot
      var scanSs = 0; var scanSe = 63; var scanAh = 0; var scanAl = 0

      // Parse marker segments until the next SOS (returns true) or —
      // when between progressive scans — EOI (returns false). Shared
      // by the initial header walk and the progressive multi-scan
      // driver (DHT/DQT/DRI may legally arrive between scans).
      def parseToScanOrEoi(betweenScans: Boolean): Boolean = {
        scanStart = -1
        var eoiSeen = false
        while (scanStart < 0 && !eoiSeen) {
        require(pos + 2 <= b.length, "truncated JPEG (no SOS)")
        require((b(pos) & 0xff) == 0xff, f"expected marker at $pos")
        pos = skipFill(pos)
        val m = b(pos + 1) & 0xff
        pos += 2
        m match {
          case 0xd9 =>
            if (betweenScans) eoiSeen = true
            else throw new IllegalArgumentException("EOI before SOS")
          case 0x01 => () // TEM, standalone
          case _ if m >= 0xd0 && m <= 0xd7 =>
            throw new IllegalArgumentException("RST outside entropy data")
          case 0xc0 | 0xc2 =>
            require(!sawSof, "multiple SOF markers")
            progressive = m == 0xc2
            val len = be16(pos)
            require(len >= 8 && pos + len <= b.length, "bad SOF0 length")
            require((b(pos + 2) & 0xff) == 8, "only 8-bit precision")
            height = be16(pos + 3); width = be16(pos + 5)
            nComp = b(pos + 7) & 0xff
            require(width > 0 && height > 0, "zero JPEG dimensions")
            require(width.toLong * height * 3 <= Int.MaxValue,
              s"JPEG raster ${width}x$height too large")
            require(nComp == 1 || nComp == 3, "only 1 or 3 components")
            require(len == 8 + 3 * nComp, "SOF0 length != component count")
            cId = new Array[Int](nComp); cH = new Array[Int](nComp)
            cV = new Array[Int](nComp); cTq = new Array[Int](nComp)
            cTd = new Array[Int](nComp); cTa = new Array[Int](nComp)
            var c = 0
            while (c < nComp) {
              val o = pos + 8 + c * 3
              cId(c) = b(o) & 0xff
              cH(c) = (b(o + 1) & 0xff) >> 4
              cV(c) = b(o + 1) & 0x0f
              cTq(c) = b(o + 2) & 0xff
              require(cH(c) >= 1 && cH(c) <= 2 && cV(c) >= 1 && cV(c) <= 2,
                s"unsupported sampling ${cH(c)}x${cV(c)}")
              require(cTq(c) < 4, "bad quant table id")
              c += 1
            }
            sawSof = true
            pos += len
          case sof if (sof >= 0xc1 && sof <= 0xcf) && sof != 0xc4 && sof != 0xc8 && sof != 0xcc =>
            throw new IllegalArgumentException(
              f"unsupported SOF marker 0xff$sof%02x (SOF0/SOF2 only)")
          case 0xdb =>
            val len = be16(pos)
            require(len >= 2 && pos + len <= b.length, "bad DQT length")
            var o = pos + 2
            while (o < pos + len) {
              val pq = (b(o) & 0xff) >> 4
              val tq = b(o) & 0x0f
              require(pq == 0, "only 8-bit quantizers")
              require(tq < 4 && o + 65 <= pos + len, "bad DQT entry")
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) {
                t(k) = b(o + 1 + k) & 0xff
                require(t(k) > 0, "zero quantizer value")
                k += 1
              }
              qTabs(tq) = t
              o += 65
            }
            require(o == pos + len, "trailing DQT bytes")
            pos += len
          case 0xc4 =>
            val len = be16(pos)
            require(len >= 2 && pos + len <= b.length, "bad DHT length")
            var o = pos + 2
            while (o < pos + len) {
              require(o + 17 <= pos + len, "truncated DHT header")
              val clazz = (b(o) & 0xff) >> 4
              val id = b(o) & 0x0f
              require(clazz <= 1 && id < 4, "bad DHT class/id")
              val bits = new Array[Int](16)
              var total = 0
              var l = 0
              while (l < 16) {
                bits(l) = b(o + 1 + l) & 0xff; total += bits(l); l += 1
              }
              require(total <= 256 && o + 17 + total <= pos + len,
                "truncated DHT values")
              val vals = new Array[Byte](total)
              System.arraycopy(b, o + 17, vals, 0, total)
              val dec = new HuffDec(bits, vals)
              if (clazz == 0) dcTabs(id) = dec else acTabs(id) = dec
              o += 17 + total
            }
            require(o == pos + len, "trailing DHT bytes")
            pos += len
          case 0xdd =>
            val len = be16(pos)
            require(len == 4 && pos + len <= b.length, "bad DRI length")
            restartInterval = be16(pos + 2)
            pos += len
          case 0xda =>
            val len = be16(pos)
            require(sawSof, "SOS before SOF")
            require(len >= 6 && pos + len <= b.length, "bad SOS length")
            val ns = b(pos + 2) & 0xff
            require(len == 6 + 2 * ns, "SOS length != component count")
            require(ns >= 1 && ns <= nComp, "bad scan component count")
            scanNs = ns
            scanCi = new Array[Int](ns)
            var prev = -1
            var c = 0
            while (c < ns) {
              val id = b(pos + 3 + c * 2) & 0xff
              // scan components must be frame components in frame
              // order (a strictly ascending subset — T.81 B.2.3)
              var fi = prev + 1
              while (fi < nComp && cId(fi) != id) fi += 1
              require(fi < nComp, s"scan component $id not in frame order")
              scanCi(c) = fi
              prev = fi
              cTd(fi) = (b(pos + 4 + c * 2) & 0xff) >> 4
              cTa(fi) = b(pos + 4 + c * 2) & 0x0f
              require(cTd(fi) < 4 && cTa(fi) < 4, "bad SOS table id")
              c += 1
            }
            scanSs = b(pos + 3 + 2 * ns) & 0xff
            scanSe = b(pos + 4 + 2 * ns) & 0xff
            scanAh = (b(pos + 5 + 2 * ns) & 0xff) >> 4
            scanAl = b(pos + 5 + 2 * ns) & 0x0f
            if (!progressive) {
              require(ns == nComp && scanCi.zipWithIndex.forall(
                p => p._1 == p._2),
                "scan must cover all frame components")
              require(scanSs == 0 && scanSe == 63 &&
                scanAh == 0 && scanAl == 0,
                "not a sequential full-spectrum scan")
            } else {
              // T.81 G.1: DC band is [0,0]; AC bands are single-
              // component; successive approximation refines one bit
              require(scanSs <= 63 && scanSe <= 63 && scanSs <= scanSe,
                "bad spectral selection")
              if (scanSs == 0)
                require(scanSe == 0,
                  "progressive DC scan must have Se = 0")
              else require(ns == 1,
                "progressive AC scan must be single-component")
              require(scanAl <= 13 && scanAh <= 13 &&
                (scanAh == 0 || scanAh == scanAl + 1),
                "bad successive-approximation bits")
            }
            scanStart = pos + len
            pos += len
          case _ if m >= 0xe0 && m <= 0xfe => // APPn, COM
            val len = be16(pos)
            require(len >= 2 && pos + len <= b.length,
              f"bad segment length for marker 0xff$m%02x")
            pos += len
          case other =>
            throw new IllegalArgumentException(
              f"unsupported JPEG marker 0xff$other%02x")
        }
        }
        scanStart >= 0
      }
      require(parseToScanOrEoi(betweenScans = false), "no scan")

      // resolve tables now — every referenced table must exist
      // (baseline: the single scan references them all; progressive
      // scans re-check per scan, since DHT may arrive between scans)
      var c = 0
      if (!progressive) while (c < nComp) {
        require(qTabs(cTq(c)) != null, s"missing quant table ${cTq(c)}")
        require(dcTabs(cTd(c)) != null, s"missing DC table ${cTd(c)}")
        require(acTabs(cTa(c)) != null, s"missing AC table ${cTa(c)}")
        c += 1
      }

      var hMax = 1; var vMax = 1
      c = 0
      while (c < nComp) {
        if (cH(c) > hMax) hMax = cH(c)
        if (cV(c) > vMax) vMax = cV(c)
        c += 1
      }
      val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
      val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
      // component planes at component resolution, MCU-padded
      val planeW = new Array[Int](nComp)
      val planes = new Array[Array[Byte]](nComp)
      c = 0
      while (c < nComp) {
        val pw = mcusX * cH(c) * 8
        val ph = mcusY * cV(c) * 8
        require(pw.toLong * ph <= Int.MaxValue, "component plane too large")
        planeW(c) = pw
        planes(c) = new Array[Byte](pw * ph)
        c += 1
      }

      // a restart boundary follows unit `done` of `total` (MCUs, or
      // blocks of a non-interleaved scan) every restartInterval units
      def atRestart(done: Int, total: Int): Boolean =
        restartInterval > 0 && done % restartInterval == 0 && done < total

      // at a restart boundary the entropy data byte-aligns, may carry
      // fill bytes, must hold the cycling RSTn, and the DC predictors
      // reset
      def resync(br: BitReader, done: Int, preds: Array[Int]): Unit = {
        val n = (done / restartInterval - 1) % 8
        br.align()
        br.pos = skipFill(br.pos)
        require(br.pos + 2 <= b.length && (b(br.pos) & 0xff) == 0xff &&
          (b(br.pos + 1) & 0xff) == 0xd0 + n,
          s"missing RST$n after unit $done")
        br.pos += 2
        java.util.Arrays.fill(preds, 0)
      }

      if (!progressive) {
      val br = new BitReader(b, scanStart, b.length)
      val preds = new Array[Int](nComp)
      val coef = new Array[Int](64)
      val samp = new Array[Int](64)

      def decodeBlockTo(ci: Int, x0: Int, y0: Int): Unit = {
        java.util.Arrays.fill(coef, 0)
        val q = qTabs(cTq(ci))
        val t = dcTabs(cTd(ci)).decode(br)
        require(t <= 11, s"bad DC category $t")
        preds(ci) += extend(br.receive(t), t)
        coef(0) = preds(ci) * q(0)
        var k = 1
        var open = true
        while (open && k < 64) {
          val rs = acTabs(cTa(ci)).decode(br)
          val r = rs >> 4
          val s = rs & 0x0f
          if (s == 0) {
            // T.81 F.1.2.2: s==0 admits exactly EOB (r=0) and ZRL (r=15);
            // any other run with size 0 is a malformed stream — fail fast
            // rather than silently treating it as EOB.
            require(r == 0 || r == 15, s"undefined AC run/size symbol (r=$r, s=0)")
            if (r == 15) {
              k += 16 // ZRL
              // a ZRL may not advance past the last coefficient — if it
              // does, the stream is malformed; don't silently drop coefs
              require(k <= 63, "ZRL advances past block end")
            } else open = false // EOB
          } else {
            k += r
            require(k < 64, "AC run past block end")
            coef(Zigzag(k)) = extend(br.receive(s), s) * q(k)
            k += 1
          }
        }
        idctBlock(coef, samp)
        val pw = planeW(ci)
        val plane = planes(ci)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            plane((y0 + y) * pw + (x0 + x)) = samp(y * 8 + x).toByte
            x += 1
          }
          y += 1
        }
      }

      val totalMcus = mcusX * mcusY
      var mcu = 0
      while (mcu < totalMcus) {
        val mx = mcu % mcusX
        val my = mcu / mcusX
        var ci = 0
        while (ci < nComp) {
          var j = 0
          while (j < cV(ci)) {
            var i = 0
            while (i < cH(ci)) {
              decodeBlockTo(ci, (mx * cH(ci) + i) * 8, (my * cV(ci) + j) * 8)
              i += 1
            }
            j += 1
          }
          ci += 1
        }
        mcu += 1
        if (atRestart(mcu, totalMcus)) resync(br, mcu, preds)
      }

      // the scan must be followed by EOI (possibly after fill bytes);
      // trailing bytes after EOI are tolerated (RIFF pad bytes etc.)
      br.align()
      val p = skipFill(br.pos)
      require(p + 2 <= b.length && (b(p) & 0xff) == 0xff &&
        (b(p + 1) & 0xff) == 0xd9, "missing EOI after scan")
      } else {
        // ---- progressive mode (T.81 Annex G.2, Huffman coding) ----
        // Quantized DCT coefficients accumulate across scans, one
        // zigzag-ordered 64-int block per block position over the
        // MCU-padded grid; dequantize + IDCT happen once, after EOI.
        val bW = new Array[Int](nComp)
        val niW = new Array[Int](nComp); val niH = new Array[Int](nComp)
        val coefs = new Array[Array[Int]](nComp)
        c = 0
        while (c < nComp) {
          bW(c) = mcusX * cH(c)
          val bHc = mcusY * cV(c)
          // non-interleaved scans cover the component's OWN block
          // grid (A.2.2: ceil of its sample dims), which can be
          // narrower than the MCU-padded grid
          val xi = (width * cH(c) + hMax - 1) / hMax
          val yi = (height * cV(c) + vMax - 1) / vMax
          niW(c) = (xi + 7) / 8; niH(c) = (yi + 7) / 8
          require(bW(c).toLong * bHc * 64 <= Int.MaxValue,
            "component coefficient store too large")
          coefs(c) = new Array[Int](bW(c) * bHc * 64)
          c += 1
        }
        val dcDone = new Array[Boolean](nComp)
        val preds = new Array[Int](nComp)

        var moreScans = true
        while (moreScans) {
          val br = new BitReader(b, scanStart, b.length)
          java.util.Arrays.fill(preds, 0)
          var eobrun = 0

          // an EOB run may not cross a restart boundary (G.1.2.2)
          def expectRst(done: Int, total: Int): Unit =
            if (atRestart(done, total)) {
              require(eobrun == 0, "EOB run across a restart boundary")
              resync(br, done, preds)
            }

          def decodeDcAt(ci: Int, off: Int): Unit =
            if (scanAh == 0) {
              val t = dcTabs(cTd(ci)).decode(br)
              require(t <= 11, s"bad DC category $t")
              preds(ci) += extend(br.receive(t), t)
              coefs(ci)(off) = preds(ci) << scanAl
            } else {
              // DC refinement: one raw correction bit, no table
              coefs(ci)(off) |= br.nextBit() << scanAl
            }

          // first AC scan for a band (G.1.2.2): EOB runs + ZRL + new
          // coefficients at magnitude << Al
          def acFirstAt(ci: Int, off: Int): Unit =
            if (eobrun > 0) eobrun -= 1
            else {
              val zz = coefs(ci)
              var k = scanSs
              var open = true
              while (open && k <= scanSe) {
                val rs = acTabs(cTa(ci)).decode(br)
                val r = rs >> 4
                val s = rs & 0x0f
                if (s == 0) {
                  if (r == 15) {
                    k += 16 // ZRL
                    require(k <= scanSe + 1, "ZRL past band end")
                  } else {
                    // EOBn: run of 2^r + receive(r) blocks, this one
                    // included
                    eobrun = (1 << r) - 1 +
                      (if (r > 0) br.receive(r) else 0)
                    open = false
                  }
                } else {
                  k += r
                  require(k <= scanSe, "AC run past band end")
                  zz(off + k) = extend(br.receive(s), s) << scanAl
                  k += 1
                }
              }
            }

          // AC refinement scan (G.1.2.3): correction bits over
          // nonzero-history coefficients, new ±1<<Al insertions over
          // zero-history positions
          def acRefineAt(ci: Int, off: Int): Unit = {
            val zz = coefs(ci)
            val p1 = 1 << scanAl
            val m1 = -1 << scanAl
            def correct(k: Int): Unit = {
              val cur = zz(off + k)
              if (br.nextBit() == 1 && (cur & p1) == 0)
                zz(off + k) = if (cur >= 0) cur + p1 else cur + m1
            }
            var k = scanSs
            if (eobrun == 0) {
              var open = true
              while (open && k <= scanSe) {
                val rs = acTabs(cTa(ci)).decode(br)
                var r = rs >> 4
                val s = rs & 0x0f
                var newval = 0
                if (s == 0) {
                  if (r < 15) {
                    // EOBn: this block's remaining history refines
                    // below, then eobrun-1 further whole blocks
                    eobrun = (1 << r) + (if (r > 0) br.receive(r) else 0)
                    open = false
                  }
                  // r == 15: ZRL — skip 16 zero-history positions
                } else {
                  require(s == 1, s"bad refinement size $s")
                  newval = if (br.nextBit() == 1) p1 else m1
                }
                if (open) {
                  // advance: correction bits on nonzero history, r
                  // zero-history skips, then place newval (if any)
                  var placed = false
                  while (!placed && k <= scanSe) {
                    if (zz(off + k) != 0) { correct(k); k += 1 }
                    else if (r == 0) {
                      if (s != 0) zz(off + k) = newval
                      k += 1
                      placed = true
                    } else { r -= 1; k += 1 }
                  }
                  require(placed || s == 0,
                    "refinement coefficient past band end")
                }
              }
            }
            if (eobrun > 0) {
              // EOB region: only history refinement to the band end
              while (k <= scanSe) {
                if (zz(off + k) != 0) correct(k)
                k += 1
              }
              eobrun -= 1
            }
          }

          if (scanSs == 0) {
            // DC scan — interleaved in MCU order when ns > 1,
            // non-interleaved over the component's own grid when
            // ns == 1 (A.2.2/A.2.3)
            if (scanAh == 0) {
              var i = 0
              while (i < scanNs) {
                val ci = scanCi(i)
                require(dcTabs(cTd(ci)) != null,
                  s"missing DC table ${cTd(ci)}")
                dcDone(ci) = true
                i += 1
              }
            } else {
              var i = 0
              while (i < scanNs) {
                require(dcDone(scanCi(i)),
                  "DC refinement before the first DC scan")
                i += 1
              }
            }
            if (scanNs == 1) {
              val ci = scanCi(0)
              val total = niW(ci) * niH(ci)
              var bi = 0
              while (bi < total) {
                val off =
                  ((bi / niW(ci)) * bW(ci) + bi % niW(ci)) * 64
                decodeDcAt(ci, off)
                bi += 1
                expectRst(bi, total)
              }
            } else {
              val totalMcus = mcusX * mcusY
              var mcu = 0
              while (mcu < totalMcus) {
                val mx = mcu % mcusX
                val my = mcu / mcusX
                var i = 0
                while (i < scanNs) {
                  val ci = scanCi(i)
                  var j = 0
                  while (j < cV(ci)) {
                    var ii = 0
                    while (ii < cH(ci)) {
                      val off = ((my * cV(ci) + j) * bW(ci) +
                        mx * cH(ci) + ii) * 64
                      decodeDcAt(ci, off)
                      ii += 1
                    }
                    j += 1
                  }
                  i += 1
                }
                mcu += 1
                expectRst(mcu, totalMcus)
              }
            }
          } else {
            // AC scan — always single-component, non-interleaved
            val ci = scanCi(0)
            require(dcDone(ci),
              "AC scan before the component's first DC scan")
            require(acTabs(cTa(ci)) != null,
              s"missing AC table ${cTa(ci)}")
            val total = niW(ci) * niH(ci)
            var bi = 0
            while (bi < total) {
              val off = ((bi / niW(ci)) * bW(ci) + bi % niW(ci)) * 64
              if (scanAh == 0) acFirstAt(ci, off) else acRefineAt(ci, off)
              bi += 1
              expectRst(bi, total)
            }
          }
          require(eobrun == 0, "EOB run past the last block of the scan")

          br.align()
          pos = br.pos
          moreScans = parseToScanOrEoi(betweenScans = true)
        }

        c = 0
        while (c < nComp) {
          require(dcDone(c), s"no DC scan for component $c")
          require(qTabs(cTq(c)) != null, s"missing quant table ${cTq(c)}")
          c += 1
        }

        // dequantize + IDCT every block of the padded grid into the
        // component planes (pad blocks hold zeros -> flat 128, cropped
        // by the color resolve)
        val coef = new Array[Int](64)
        val samp = new Array[Int](64)
        c = 0
        while (c < nComp) {
          val q = qTabs(cTq(c))
          val zz = coefs(c)
          val bHc = mcusY * cV(c)
          val pw = planeW(c)
          val plane = planes(c)
          var by = 0
          while (by < bHc) {
            var bx = 0
            while (bx < bW(c)) {
              val off = (by * bW(c) + bx) * 64
              var k = 0
              while (k < 64) {
                coef(Zigzag(k)) = zz(off + k) * q(k)
                k += 1
              }
              idctBlock(coef, samp)
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  plane((by * 8 + y) * pw + bx * 8 + x) =
                    samp(y * 8 + x).toByte
                  x += 1
                }
                y += 1
              }
              bx += 1
            }
            by += 1
          }
          c += 1
        }
      }

      // color resolve
      val rgb = new Array[Byte](width * height * 3)
      if (nComp == 1) {
        val pw = planeW(0)
        val plane = planes(0)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            val v = plane(y * pw + x)
            val base = (y * width + x) * 3
            rgb(base) = v; rgb(base + 1) = v; rgb(base + 2) = v
            x += 1
          }
          y += 1
        }
      } else {
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            def sample(ci: Int): Int = {
              val sx = x * cH(ci) / hMax
              val sy = y * cV(ci) / vMax
              planes(ci)(sy * planeW(ci) + sx) & 0xff
            }
            val yy = sample(0)
            val cb = sample(1) - 128
            val cr = sample(2) - 128
            def clamp(v: Int): Byte =
              (if (v < 0) 0 else if (v > 255) 255 else v).toByte
            val base = (y * width + x) * 3
            rgb(base) = clamp(yy + ((91881 * cr + 32768) >> 16))
            rgb(base + 1) = clamp(yy - ((22554 * cb + 46802 * cr + 32768) >> 16))
            rgb(base + 2) = clamp(yy + ((116130 * cb + 32768) >> 16))
            x += 1
          }
          y += 1
        }
      }
      Codecs.DecodedImage(width, height, rgb)
    }
  }

  // ----------------------------------------------------------------
  // M-JPEG AVI: JPEG scans as the per-frame payload of the engine's
  // existing RIFF/AVI muxer and stream-header parse — a genuinely
  // COMPRESSED video codec inside a real container, the shape the
  // reference's frame loop (raw_to_samples.py:173-196) actually
  // decodes in practice.
  // ----------------------------------------------------------------

  /** Mux pre-encoded JPEG frames into a RIFF/AVI with an 'MJPG'
    * stream through [[Codecs.aviMux]]: same header layout as
    * [[Codecs.aviEncode]] but biCompression = 'MJPG' and one '00dc'
    * chunk per JPEG (odd lengths padded per RIFF). Frame byte sizes
    * are entropy-coded and thus data-dependent — there is deliberately
    * no closed-form size companion; containers are measured, not
    * replayed. */
  def aviEncodeMjpeg(width: Int, height: Int, fps: Int,
      jpegFrames: Seq[Array[Byte]]): Array[Byte] = {
    require(width > 0 && height > 0 && fps > 0 && jpegFrames.nonEmpty,
      "need positive dims/fps and >= 1 frame")
    val strf = Codecs.bitmapInfo(width, height,
      Codecs.bmpStride(width) * height)
    Codecs.wTag(strf, 16, "MJPG") // biCompression fourcc
    val vids = Codecs.AviStreamOut("vids", "MJPG", fps, jpegFrames.length,
      jpegFrames.map(_.length).max + 8, 0, strf)
    Codecs.aviMux(width, height, fps, Seq(vids), jpegFrames.map(f =>
      Codecs.AviChunkOut("00dc", f.length,
        (out, o) => System.arraycopy(f, 0, out, o, f.length))))
  }

  /** M-JPEG AVI decoder: the stream-header parse of
    * [[Codecs.aviParse]] with an 'MJPG' video stream, each '00dc'
    * chunk a complete baseline JPEG decoded by [[JpegDecoder]]. Frame
    * dimensions must match the stream header — a mux that lies about
    * dims fails fast. */
  final class MjpegAviDecoder extends Codecs.VideoDecoder {
    private val jpeg = new JpegDecoder

    def decode(b: Array[Byte]): Codecs.DecodedVideo = {
      val avi = Codecs.aviParse(b)
      val v = avi.stream("vids")
      require(v.handler == "MJPG", "not an MJPG video stream")
      val f = v.format(40)
      val width = Codecs.s32(b, f + 4)
      val height = Codecs.s32(b, f + 8)
      require(width > 0 && height > 0, s"bad MJPG dims ${width}x$height")
      require(Codecs.fourcc(b, f + 16) == "MJPG",
        "strf biCompression != MJPG")
      val frames = avi.movi.filter(_.id == "00dc").map { c =>
        val im = jpeg.decode(
          java.util.Arrays.copyOfRange(b, c.off, c.off + c.len))
        require(im.width == width && im.height == height,
          s"frame ${im.width}x${im.height} != stream ${width}x$height")
        im.rgb
      }
      require(frames.nonEmpty, "no movi frames")
      Codecs.DecodedVideo(width, height, v.perSecond, frames.toArray)
    }
  }
}
