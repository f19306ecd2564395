package graft.multimodal

/** Real pure-JVM media codecs behind the pluggable decode boundary —
  * the round-8 closure of the "media decode is a surrogate" gap
  * (reference decode sites: raw_to_samples.py:173-196 cv2 frame
  * decode, preprocess_dataset.py:59-70 re-encode). The container has
  * no cv2/moviepy, but BMP (BITMAPINFOHEADER, 24-bit BI_RGB) and WAV
  * (RIFF PCM16 mono) are fully specified byte layouts parseable with
  * nothing but the JVM — so the mm_decode_* catalog ops run a REAL
  * encode -> real bytes -> REAL decode round trip, and the DuckDB
  * oracle replays the pixel/sample arithmetic from the deterministic
  * pattern: a decoder bug (stride padding, bottom-up rows, BGR order,
  * chunk offsets, endianness) shows up as a hash mismatch, not a
  * comment. The deterministic surrogates remain the documented
  * fallback for formats the JVM cannot parse (MP4/JPEG).
  *
  * Both decoders implement Serializable single-method traits and are
  * instantiated ONCE PER PARTITION inside mapPartitions (the M1
  * model-init contract, Multimodal.FrameDetector).
  */
object Codecs {

  /** Decoded raster: row-major top-down, 3 bytes per pixel (R,G,B). */
  final case class DecodedImage(width: Int, height: Int, rgb: Array[Byte])

  /** Decoded audio: PCM samples, channel-interleaved. */
  final case class DecodedAudio(sampleRate: Int, channels: Int,
      samples: Array[Short])

  trait ImageDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedImage
  }

  trait AudioDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedAudio
  }

  private[multimodal] def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private[multimodal] def s32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  /** The four ASCII bytes at `off`: a RIFF chunk id, an ISO-BMFF box
    * type or any other fourcc field. */
  private[multimodal] def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  private[multimodal] def w16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  private[multimodal] def w32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  /** BMP/DIB row stride: pixel rows pad to 4-byte boundaries. */
  def bmpStride(width: Int): Int = ((width * 3 + 3) / 4) * 4

  /** Pack a top-down RGB raster as a bottom-up BGR stride-padded DIB
    * pixel array at `dstOff` — the shared byte layout of a BMP body
    * and an AVI '00db' frame chunk. */
  private def writeDib(width: Int, height: Int, rgb: Array[Byte],
      out: Array[Byte], dstOff: Int): Unit = {
    val stride = bmpStride(width)
    var y = 0
    while (y < height) {
      val dst = dstOff + (height - 1 - y) * stride // bottom-up
      var x = 0
      while (x < width) {
        val src = (y * width + x) * 3
        out(dst + x * 3) = rgb(src + 2)     // B
        out(dst + x * 3 + 1) = rgb(src + 1) // G
        out(dst + x * 3 + 2) = rgb(src)     // R
        x += 1
      }
      y += 1
    }
  }

  /** Unpack a DIB pixel array at `srcOff` into a top-down RGB raster;
    * validates the raster fits inside the buffer before reading. */
  private def readDib(b: Array[Byte], srcOff: Int, width: Int,
      height: Int, topDown: Boolean): Array[Byte] = {
    val stride = bmpStride(width)
    require(width > 0 && height > 0 &&
      width.toLong * height * 3 <= Int.MaxValue,
      s"corrupt DIB dimensions ${width}x$height")
    require(srcOff >= 0 &&
      srcOff.toLong + stride.toLong * height <= b.length,
      s"corrupt DIB raster offset $srcOff for ${b.length} bytes")
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val srcRow = srcOff + (if (topDown) y else height - 1 - y) * stride
      var x = 0
      while (x < width) {
        val dst = (y * width + x) * 3
        rgb(dst) = b(srcRow + x * 3 + 2)     // R
        rgb(dst + 1) = b(srcRow + x * 3 + 1) // G
        rgb(dst + 2) = b(srcRow + x * 3)     // B
        x += 1
      }
      y += 1
    }
    rgb
  }

  /** The 40-byte BITMAPINFOHEADER of a bottom-up 24-bit single-plane
    * BI_RGB raster: the header of a BMP body and of an AVI video strf. */
  private[multimodal] def bitmapInfo(width: Int, height: Int,
      sizeImage: Int): Array[Byte] = {
    val h = new Array[Byte](40)
    w32(h, 0, 40)
    w32(h, 4, width); w32(h, 8, height) // positive = bottom-up
    w16(h, 12, 1); w16(h, 14, 24) // planes, bpp
    w32(h, 20, sizeImage) // biCompression at 16 stays 0 = BI_RGB
    h
  }

  /** Read the BITMAPINFOHEADER at `f` (at least 40 bytes: a BMP's or
    * an AVI video strf's), which must be 24-bit single-plane BI_RGB,
    * into (width, height, top-down); a negative height means top-down
    * rows. */
  private def readBitmapInfo(b: Array[Byte], f: Int): (Int, Int, Boolean) = {
    require(u16(b, f + 12) == 1 && u16(b, f + 14) == 24,
      "only 24-bit single-plane supported")
    require(s32(b, f + 16) == 0, "only BI_RGB (uncompressed) supported")
    val hRaw = s32(b, f + 8)
    (s32(b, f + 4), math.abs(hRaw), hRaw < 0)
  }

  /** Encode a top-down RGB raster as a standard bottom-up 24-bit
    * BI_RGB BMP (BITMAPFILEHEADER + BITMAPINFOHEADER = 54 bytes). */
  def bmpEncode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3,
      s"raster length ${rgb.length} != $width x $height x 3")
    val stride = bmpStride(width)
    val size = 54 + stride * height
    val out = new Array[Byte](size)
    out(0) = 'B'; out(1) = 'M'
    w32(out, 2, size); w32(out, 10, 54)
    System.arraycopy(bitmapInfo(width, height, stride * height), 0, out, 14, 40)
    writeDib(width, height, rgb, out, 54)
    out
  }

  /** The real decoder: parses the actual header fields (data offset,
    * signed height for top-down files, stride padding, BGR order). */
  final class BmpDecoder extends ImageDecoder {
    def decode(b: Array[Byte]): DecodedImage = {
      require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
      val dataOff = s32(b, 10)
      require(s32(b, 14) >= 40, "unsupported DIB header")
      val (width, height, topDown) = readBitmapInfo(b, 14)
      // readDib range-checks dimensions and the raster extent before
      // allocating — a crafted header fails fast with a clear message
      // instead of overflowing width*height*3 or indexing past the
      // buffer; additionally pin the data offset past the headers.
      require(dataOff >= 54, s"corrupt BMP data offset $dataOff")
      DecodedImage(width, height,
        readDib(b, dataOff, width, height, topDown))
    }
  }

  /** The 16-byte WAVEFORMAT of mono `bits`-bit audio under format tag
    * `tag` (1 PCM, 6 A-law, 7 µ-law): the payload of a WAV fmt chunk
    * and of an AVI audio strf. */
  private def waveFormat(tag: Int, sampleRate: Int, bits: Int): Array[Byte] = {
    val f = new Array[Byte](16)
    w16(f, 0, tag)
    w16(f, 2, 1) // mono
    w32(f, 4, sampleRate)
    w32(f, 8, sampleRate * (bits / 8)) // byte rate
    w16(f, 12, bits / 8) // block align
    w16(f, 14, bits)
    f
  }

  /** A canonical 44-byte-header RIFF/WAVE (fmt + data) for `dataLen`
    * bytes of audio, which the caller writes at offset 44. RIFF chunks
    * pad to even length: an odd data chunk gets one zero pad byte,
    * which the RIFF size counts and the data size does not. */
  private def wavHeader(format: Array[Byte], dataLen: Int): Array[Byte] = {
    val out = new Array[Byte](44 + dataLen + (dataLen & 1))
    wTag(out, 0, "RIFF"); w32(out, 4, out.length - 8); wTag(out, 8, "WAVE")
    wTag(out, 12, "fmt "); w32(out, 16, 16)
    System.arraycopy(format, 0, out, 20, 16)
    wTag(out, 36, "data"); w32(out, 40, dataLen)
    out
  }

  /** Encode PCM16 mono samples as a canonical 44-byte-header RIFF/WAVE. */
  def wavEncode(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val out = wavHeader(waveFormat(1, sampleRate, 16), samples.length * 2)
    var i = 0
    while (i < samples.length) {
      w16(out, 44 + i * 2, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------
  // ITU-T G.711 companding — the COMPRESSED AUDIO rung (2:1
  // logarithmic PCM, the telephony format real ingest corpora carry
  // inside WAVE containers as format tags 7/µ-law and 6/A-law).
  // Implemented from the public G.711 segment tables; psychoacoustic
  // codecs (AAC/MP3) remain the documented out-of-scope boundary —
  // G.711 is a pure per-sample quantizer, fully replayable.
  // ---------------------------------------------------------------

  private val MuBias = 0x84
  private val MuClip = 32635

  /** µ-law compress one PCM16 sample to its 8-bit codeword (G.711
    * table 2a: sign + 3-bit segment + 4-bit mantissa, complemented on
    * the wire). */
  def mulawEncode(pcm: Short): Byte = {
    var x = pcm.toInt
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > MuClip) x = MuClip
    x += MuBias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (x & mask) == 0) { exp -= 1; mask >>= 1 }
    (~(sign | (exp << 4) | ((x >> (exp + 3)) & 0x0f))).toByte
  }

  /** µ-law expand one codeword to PCM16 — exact integer closed form
    * (((mant*8 + 132) << exp) - 132, signed), replayed verbatim by
    * the oracle SQL. */
  def mulawDecode(u: Byte): Short = {
    val c = ~u & 0xff
    val mag = ((((c & 0x0f) << 3) + MuBias) << ((c >> 4) & 7)) - MuBias
    (if ((c & 0x80) != 0) -mag else mag).toShort
  }

  /** A-law compress one PCM16 sample (G.711 table 1a: 13-bit
    * magnitude, sign + segment + mantissa, even bits inverted). */
  def alawEncode(pcm: Short): Byte = {
    var x = pcm.toInt >> 3 // 16-bit to the 13-bit A-law grid
    val mask = if (x >= 0) 0xd5 else { x = -x - 1; 0x55 }
    if (x > 0xfff) x = 0xfff
    var seg = 0
    while (seg < 8 && x > ((0x1f << seg) | ((1 << seg) - 1))) seg += 1
    val aval =
      if (seg >= 8) 0x7f
      else (seg << 4) | ((x >> (if (seg < 2) 1 else seg)) & 0x0f)
    (aval ^ mask).toByte
  }

  /** A-law expand one codeword to PCM16 — exact integer closed form,
    * replayed verbatim by the oracle SQL. Never yields 0 (the A-law
    * grid is offset by half a step), so expand/compress is a bijection
    * on all 256 codewords. */
  def alawDecode(a: Byte): Short = {
    val c = (a ^ 0x55) & 0xff
    val m = (c & 0x0f) << 4
    val t = ((c >> 4) & 7) match {
      case 0 => m + 8
      case 1 => m + 0x108
      case seg => (m + 0x108) << (seg - 1)
    }
    (if ((c & 0x80) != 0) t else -t).toShort
  }

  /** Encode G.711 codewords as a genuine RIFF/WAVE: format tag 7
    * (µ-law) or 6 (A-law), 8 bits/sample, mono. The layout mirrors
    * [[wavEncode]]'s canonical 44-byte header with the companded
    * byte stream as data — the files telephony pipelines carry. */
  def wavEncodeG711(sampleRate: Int, codes: Array[Byte],
      mulaw: Boolean): Array[Byte] = {
    // 1 byte/sample makes odd data lengths (and so the pad) common
    val out = wavHeader(waveFormat(if (mulaw) 7 else 6, sampleRate, 8),
      codes.length)
    System.arraycopy(codes, 0, out, 44, codes.length)
    out
  }

  /** The one RIFF chunk walk, shared by every WAV and AVI reader.
    * Checks the form ('RIFF' + `form`, e.g. "WAVE" or "AVI "), then
    * hands each chunk to `visit` in file order as (list type of the
    * enclosing LIST, or `form` at top level; fourcc; data offset;
    * data length), descending into every LIST instead of visiting it.
    * Each length is checked against its parent's end before anything
    * reads the chunk (a negative one would loop forever, an oversized
    * one index past the buffer), and the walk steps over the pad byte
    * after an odd-length chunk. */
  private def riffWalk(b: Array[Byte], form: String)(
      visit: (String, String, Int, Int) => Unit): Unit = {
    require(b.length >= 12 && fourcc(b, 0) == "RIFF" &&
      fourcc(b, 8) == form, s"not a RIFF/${form.trim}")
    def walk(parent: String, from: Int, end: Int): Unit = {
      var off = from
      while (off + 8 <= end) {
        val id = fourcc(b, off)
        val len = s32(b, off + 4)
        require(len >= 0 && off + 8 + len.toLong <= end,
          s"corrupt RIFF chunk '$id' len $len at offset $off")
        if (id == "LIST" && len >= 4)
          walk(fourcc(b, off + 8), off + 12, off + 8 + len)
        else visit(parent, id, off + 8, len)
        off += 8 + len + (len & 1)
      }
    }
    walk(form, 12, b.length)
  }

  /** Check the WAVEFORMAT at `f` (a WAV fmt chunk or an AVI audio
    * strf, at least 16 bytes): PCM16 (tag 1) or 8-bit G.711 (tag 6
    * A-law, 7 µ-law). Returns the format tag. */
  private def waveFormatTag(b: Array[Byte], f: Int): Int = {
    val tag = u16(b, f)
    require(tag == 1 || tag == 6 || tag == 7,
      s"unsupported WAVE format tag $tag (PCM / A-law / mu-law only)")
    val bits = u16(b, f + 14)
    require(bits == (if (tag == 1) 16 else 8),
      s"bad bits/sample $bits for format tag $tag")
    tag
  }

  /** The `len` audio bytes at `off`, in format `tag`, as PCM16:
    * little-endian PCM read as is, G.711 codewords expanded through
    * the exact integer tables. */
  private def waveSamples(b: Array[Byte], off: Int, len: Int,
      tag: Int): Array[Short] = {
    val s = new Array[Short](if (tag == 1) len / 2 else len)
    var i = 0
    while (i < s.length) {
      s(i) = tag match {
        case 1 => u16(b, off + i * 2).toShort
        case 7 => mulawDecode(b(off + i))
        case _ => alawDecode(b(off + i))
      }
      i += 1
    }
    s
  }

  /** The real decoder: walks the RIFF chunk list ([[riffWalk]]; fmt
    * may be followed by LIST/fact chunks before data in the wild),
    * validates PCM16 or G.711 (format tags 6/7, 8-bit) and expands
    * companded streams to PCM16 through the exact G.711 integer
    * tables. */
  final class WavDecoder extends AudioDecoder {
    def decode(b: Array[Byte]): DecodedAudio = {
      require(b.length >= 44, "not a RIFF/WAVE")
      var fmt = -1; var fmtTag = -1
      var dataOff = -1; var dataLen = -1
      riffWalk(b, "WAVE") { (parent, id, off, len) =>
        if (parent == "WAVE" && id == "fmt ") {
          require(len >= 16, s"fmt chunk too short ($len)")
          fmt = off
          fmtTag = waveFormatTag(b, off)
        } else if (parent == "WAVE" && id == "data") {
          dataOff = off
          dataLen = len
        }
      }
      require(fmt >= 0 && s32(b, fmt + 4) > 0 && dataOff >= 0,
        "missing fmt or data chunk")
      DecodedAudio(s32(b, fmt + 4), u16(b, fmt + 2),
        waveSamples(b, dataOff, dataLen, fmtTag))
    }
  }

  /** Decoded video: per-frame top-down RGB rasters + stream timing. */
  final case class DecodedVideo(width: Int, height: Int, fps: Int,
      frames: Array[Array[Byte]])

  trait VideoDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedVideo
  }

  private[multimodal] def wTag(b: Array[Byte], off: Int, tag: String): Unit = {
    var i = 0
    while (i < 4) { b(off + i) = tag.charAt(i).toByte; i += 1 }
  }

  /** One stream of an AVI for [[aviMux]]: strh fccType ('vids' /
    * 'auds') and handler fourcc ("" = 0), rate per second (scale is
    * 1), length in rate units, suggested buffer size (its largest chunk
    * + 8), sample size, and the strf format block. */
  private[multimodal] final case class AviStreamOut(kind: String,
      handler: String, rate: Int, length: Int, buffer: Int,
      sampleSize: Int, strf: Array[Byte])

  /** One movi chunk for [[aviMux]]: fourcc, data length, and the
    * writer of its data at the given offset of the output. */
  private[multimodal] final case class AviChunkOut(id: String, len: Int,
      write: (Array[Byte], Int) => Unit)

  /** The one AVI muxer: 'RIFF…AVI ' + LIST hdrl (avih main header +
    * one LIST strl of strh + strf per stream) + LIST movi holding the
    * chunks in order, each odd-length chunk followed by its RIFF pad
    * byte. The main header's frame count and buffer size are the first
    * stream's; its byte rate is fps x the sum of every stream's
    * per-frame chunk bytes; video streams carry the frame rectangle. */
  private[multimodal] def aviMux(width: Int, height: Int, fps: Int,
      streams: Seq[AviStreamOut], movi: Seq[AviChunkOut]): Array[Byte] = {
    // per strl: LIST header 12 + strh chunk 64 + strf chunk 8 + format
    val hdrlLen = 4 + 64 + streams.map(84 + _.strf.length).sum
    val moviLen = 4 + movi.map(c => 8 + c.len + (c.len & 1)).sum
    val out = new Array[Byte](20 + hdrlLen + 8 + moviLen)
    var o = 0
    def chunk(id: String, len: Int): Unit = {
      wTag(out, o, id); w32(out, o + 4, len); o += 8
    }
    def list(tp: String, len: Int): Unit = {
      chunk("LIST", len); wTag(out, o, tp); o += 4
    }
    wTag(out, 0, "RIFF"); w32(out, 4, out.length - 8); wTag(out, 8, "AVI ")
    o = 12
    list("hdrl", hdrlLen)
    chunk("avih", 56) // MainAVIHeader
    w32(out, o, 1000000 / fps)                           // dwMicroSecPerFrame
    w32(out, o + 4, fps * streams.map(_.buffer - 8).sum) // dwMaxBytesPerSec
    w32(out, o + 16, streams.head.length)                // dwTotalFrames
    w32(out, o + 24, streams.length)                     // dwStreams
    w32(out, o + 28, streams.head.buffer)                // dwSuggestedBufferSize
    w32(out, o + 32, width); w32(out, o + 36, height)
    o += 56
    streams.foreach { s =>
      list("strl", 76 + s.strf.length)
      chunk("strh", 56)
      wTag(out, o, s.kind)
      if (s.handler.nonEmpty) wTag(out, o + 4, s.handler)
      w32(out, o + 20, 1)              // dwScale
      w32(out, o + 24, s.rate)         // dwRate (units/sec = rate/scale)
      w32(out, o + 32, s.length)       // dwLength
      w32(out, o + 36, s.buffer)       // dwSuggestedBufferSize
      w32(out, o + 44, s.sampleSize)   // dwSampleSize
      if (s.kind == "vids") { w16(out, o + 52, width); w16(out, o + 54, height) }
      o += 56
      chunk("strf", s.strf.length)
      System.arraycopy(s.strf, 0, out, o, s.strf.length)
      o += s.strf.length
    }
    list("movi", moviLen)
    movi.foreach { c =>
      chunk(c.id, c.len)
      c.write(out, o)
      o += c.len + (c.len & 1)
    }
    out
  }

  private def requireFrames(width: Int, height: Int,
      frames: Seq[Array[Byte]]): Unit =
    frames.foreach(f => require(f.length == width.toLong * height * 3,
      s"frame length ${f.length} != $width x $height x 3"))

  /** The uncompressed video stream of an AVI: 'vids'/'DIB ' with a
    * BITMAPINFOHEADER strf, one '00db' DIB chunk per frame. */
  private def dibStream(width: Int, height: Int, fps: Int,
      nFrames: Int): AviStreamOut = {
    val frameBytes = bmpStride(width) * height
    AviStreamOut("vids", "DIB ", fps, nFrames, frameBytes + 8, 0,
      bitmapInfo(width, height, frameBytes))
  }

  private def dibChunk(width: Int, height: Int,
      frame: Array[Byte]): AviChunkOut =
    AviChunkOut("00db", bmpStride(width) * height,
      (out, o) => writeDib(width, height, frame, out, o))

  /** Closed-form byte size of [[aviEncode]]'s output: 12-byte RIFF
    * header + 200-byte hdrl LIST (avih 64 + strl 124) + movi LIST
    * (12 + nFrames x (8 + stride x height)). The oracle replays this. */
  def aviSize(width: Int, height: Int, nFrames: Int): Int =
    224 + nFrames * (8 + bmpStride(width) * height)

  /** Encode top-down RGB rasters as an uncompressed RIFF/AVI (the
    * video container the reference's cv2.VideoCapture loop reads,
    * raw_to_samples.py:173-196): 'RIFF…AVI ' + LIST hdrl (avih main
    * header + LIST strl with a 'vids'/'DIB ' strh and a
    * BITMAPINFOHEADER strf) + LIST movi holding one '00db' chunk per
    * frame, each a bottom-up BGR stride-padded DIB — the same pixel
    * array layout as the BMP body, per the public AVI/DIB byte specs. */
  def aviEncode(width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    require(fps > 0 && frames.nonEmpty, "need fps > 0 and >= 1 frame")
    requireFrames(width, height, frames)
    aviMux(width, height, fps, Seq(dibStream(width, height, fps, frames.length)),
      frames.map(dibChunk(width, height, _)))
  }

  /** One multimodal container: video frames AND the audio track
    * parsed out of the same RIFF/AVI byte stream. */
  final case class DecodedAv(video: DecodedVideo, audio: DecodedAudio)

  trait AvDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedAv
  }

  /** Closed-form byte size of [[aviEncodeAv]]'s output: 12-byte RIFF
    * header + 300-byte hdrl (avih 64 + vids strl 124 + auds strl
    * 100) + movi LIST (12 + per frame one 00db (8 + stride x height)
    * and one 01wb (8 + 2 x samplesPerFrame)). */
  def aviAvSize(width: Int, height: Int, nFrames: Int,
      samplesPerFrame: Int): Int =
    324 + nFrames * (16 + bmpStride(width) * height + 2 * samplesPerFrame)

  /** Encode an interleaved two-stream AVI — the layout real muxers
    * emit (vids + auds stream headers in hdrl; movi alternates one
    * '00db' DIB frame with one '01wb' PCM16 chunk of that frame's
    * audio span). samples.length must equal nFrames x
    * samplesPerFrame; the audio rate is fps x samplesPerFrame so the
    * two streams cover the same wall-clock. */
  def aviEncodeAv(width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]], samplesPerFrame: Int,
      samples: Array[Short]): Array[Byte] =
    aviEncodeInterleaved(width, height, fps, frames, samplesPerFrame,
      samples.length, 1, 16, (f, out, o) => {
        var i = 0
        while (i < samplesPerFrame) {
          w16(out, o + i * 2, samples(f * samplesPerFrame + i) & 0xffff)
          i += 1
        }
      })

  /** Closed-form byte size of [[aviEncodeAvG711]]'s output: as
    * [[aviAvSize]] but the audio chunks carry ONE companded byte per
    * sample (plus the RIFF pad byte when samplesPerFrame is odd). */
  def aviAvG711Size(width: Int, height: Int, nFrames: Int,
      samplesPerFrame: Int): Int =
    324 + nFrames * (16 + bmpStride(width) * height +
      samplesPerFrame + (samplesPerFrame & 1))

  /** The COMPANDED-audio twin of [[aviEncodeAv]]: identical
    * interleaved two-stream layout, but the auds stream is G.711
    * (WAVEFORMATEX wFormatTag 7 µ-law / 6 A-law, 8 bits/sample,
    * block align 1) and each '01wb' chunk carries that frame's span
    * of codewords — the telephony-audio AVIs surveillance and
    * call-recording pipelines mux. Odd-length audio chunks get the
    * RIFF pad byte. */
  def aviEncodeAvG711(width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]], samplesPerFrame: Int,
      codes: Array[Byte], mulaw: Boolean): Array[Byte] =
    aviEncodeInterleaved(width, height, fps, frames, samplesPerFrame,
      codes.length, if (mulaw) 7 else 6, 8, (f, out, o) =>
        System.arraycopy(codes, f * samplesPerFrame, out, o,
          samplesPerFrame))

  /** The two-stream AVI both AV writers emit: a DIB video stream and a
    * mono audio stream of `nSamples` samples in WAVEFORMAT `tag` /
    * `bits`, at fps x samplesPerFrame samples/sec; movi alternates
    * each frame's '00db' with a '01wb' chunk of its audio span, which
    * `writeAudio(frame, out, offset)` fills. */
  private def aviEncodeInterleaved(width: Int, height: Int, fps: Int,
      frames: Seq[Array[Byte]], samplesPerFrame: Int, nSamples: Int,
      tag: Int, bits: Int,
      writeAudio: (Int, Array[Byte], Int) => Unit): Array[Byte] = {
    require(fps > 0 && frames.nonEmpty && samplesPerFrame > 0,
      "need fps > 0, >= 1 frame, samplesPerFrame > 0")
    val nf = frames.length
    require(nSamples == nf * samplesPerFrame,
      s"audio length $nSamples != $nf x $samplesPerFrame")
    requireFrames(width, height, frames)
    val sampleRate = fps * samplesPerFrame
    val audioBytes = samplesPerFrame * (bits / 8)
    val auds = AviStreamOut("auds", "", sampleRate, nSamples,
      audioBytes + 8, bits / 8, waveFormat(tag, sampleRate, bits))
    aviMux(width, height, fps, Seq(dibStream(width, height, fps, nf), auds),
      (0 until nf).flatMap(f => Seq(dibChunk(width, height, frames(f)),
        AviChunkOut("01wb", audioBytes, (out, o) => writeAudio(f, out, o)))))
  }

  /** One AVI stream as its strl declares it: strh fccType and handler
    * fourcc, scale and rate, and the extent of its strf (offset -1
    * when the strl has none). */
  private[multimodal] final case class AviStream(kind: String,
      handler: String, scale: Int, rate: Int, strf: Int, strfLen: Int) {
    /** Units per second (rate / scale). */
    def perSecond: Int = {
      require(scale > 0 && rate > 0, "missing or zero strh timing")
      rate / scale
    }

    /** Offset of the strf, checked to hold `need` bytes. */
    def format(need: Int): Int = {
      require(strfLen >= need, s"$kind strf too short ($strfLen)")
      strf
    }
  }

  /** One chunk inside an AVI's movi LIST: fourcc, data offset, length. */
  private[multimodal] final case class AviChunk(id: String, off: Int,
      len: Int)

  /** A parsed AVI: its streams in strl order and its movi chunks. */
  private[multimodal] final case class AviFile(streams: Seq[AviStream],
      movi: Seq[AviChunk]) {
    /** The last stream of type `kind` ('vids' or 'auds'). */
    def stream(kind: String): AviStream = {
      val i = streams.lastIndexWhere(_.kind == kind)
      require(i >= 0, s"missing $kind stream")
      streams(i)
    }
  }

  /** The one AVI stream-header parse, on [[riffWalk]]: each hdrl strl's
    * strh becomes an [[AviStream]] (with the extent of the strf that
    * follows it), and each movi chunk an [[AviChunk]]. A movi chunk
    * ahead of every stream header fails. What a stream's strf and
    * chunks hold (DIB, MJPG or audio) is left to the decoders. */
  private[multimodal] def aviParse(b: Array[Byte]): AviFile = {
    val streams = scala.collection.mutable.ArrayBuffer.empty[AviStream]
    val movi = scala.collection.mutable.ArrayBuffer.empty[AviChunk]
    riffWalk(b, "AVI ") { (parent, id, off, len) =>
      (parent, id) match {
        case ("strl", "strh") =>
          require(len >= 56, s"strh too short ($len)")
          streams += AviStream(fourcc(b, off), fourcc(b, off + 4),
            s32(b, off + 20), s32(b, off + 24), -1, 0)
        case ("strl", "strf") if streams.nonEmpty =>
          streams(streams.length - 1) =
            streams.last.copy(strf = off, strfLen = len)
        case ("movi", _) =>
          require(streams.nonEmpty, "movi chunk before the stream headers")
          movi += AviChunk(id, off, len)
        case _ => ()
      }
    }
    AviFile(streams.toSeq, movi.toSeq)
  }

  /** The DIB video of a parsed AVI: its 'vids' stream must be
    * uncompressed ('DIB ' or a zero handler, with a BI_RGB
    * BITMAPINFOHEADER strf as a BMP has), and every
    * '00db'/'00dc' movi chunk is one frame, unpacked through the same
    * stride/BGR/bottom-up raster logic as BMP. */
  private def dibVideo(b: Array[Byte], avi: AviFile): DecodedVideo = {
    val v = avi.stream("vids")
    require(v.handler == "DIB " || v.handler.forall(_ == 0),
      "only uncompressed DIB video")
    val (width, height, topDown) = readBitmapInfo(b, v.format(40))
    val frames = avi.movi.filter(c => c.id == "00db" || c.id == "00dc")
      .map { c =>
        require(c.len >= bmpStride(width) * height,
          s"frame chunk len ${c.len} short of the raster")
        readDib(b, c.off, width, height, topDown)
      }
    require(frames.nonEmpty, "no movi frames")
    DecodedVideo(width, height, v.perSecond, frames.toArray)
  }

  /** The real decoder: [[aviParse]] for the stream headers and movi
    * chunks, then [[dibVideo]] for the 'vids' stream's frames. A
    * two-stream file's audio strl and '01wb' chunks are left alone. */
  final class AviDecoder extends VideoDecoder {
    def decode(b: Array[Byte]): DecodedVideo = dibVideo(b, aviParse(b))
  }

  /** The real two-stream decoder: one [[aviParse]] of the byte stream
    * yields both typed outputs — the 'vids' stream's frames through
    * [[dibVideo]], and the 'auds' stream's '01wb' chunks (PCM16, or
    * G.711 µ/A-law expanded through the exact integer tables) as one
    * sample array. */
  final class AviAvDecoder extends AvDecoder {
    def decode(b: Array[Byte]): DecodedAv = {
      val avi = aviParse(b)
      val f = avi.stream("auds").format(16)
      val tag = waveFormatTag(b, f)
      val audio = Array.concat(avi.movi.filter(_.id == "01wb")
        .map(c => waveSamples(b, c.off, c.len, tag)): _*)
      require(s32(b, f + 4) > 0 && audio.nonEmpty, "missing audio stream")
      DecodedAv(dibVideo(b, avi),
        DecodedAudio(s32(b, f + 4), u16(b, f + 2), audio))
    }
  }

  // ---------------------------------------------------------------
  // ISO BMFF (MP4) — the reference's ACTUAL container format
  // (raw_to_samples.py opens .mp4 files; preprocess_dataset.py:59-70
  // re-encodes .mov -> .mp4). The codec payload (H.264 et al.) is not
  // JVM-parseable and stays the documented surrogate boundary, but
  // everything the reference READS BEFORE decoding — fps, frame
  // count, duration, track dims (cv2's CAP_PROP_FPS /
  // CAP_PROP_FRAME_COUNT probe, raw_to_samples.py:302-307) — lives in
  // the moov box tree, which is a fully specified big-endian byte
  // layout (ISO/IEC 14496-12). So the container PROBE runs on real
  // bytes: a genuine box walk over ftyp/moov/mvhd/trak/tkhd/mdhd/
  // hdlr/stts/mdat, with every box size validated before descent.
  // ---------------------------------------------------------------

  /** Big-endian reads/writes — ISO BMFF is big-endian, unlike RIFF. */
  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def wbe32(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 24) & 0xff).toByte
    b(off + 1) = ((v >> 16) & 0xff).toByte
    b(off + 2) = ((v >> 8) & 0xff).toByte
    b(off + 3) = (v & 0xff).toByte
  }

  private def wbe16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >> 8) & 0xff).toByte
    b(off + 1) = (v & 0xff).toByte
  }

  /** One box of an MP4 being written: its type, `len` bytes of its own
    * fields (zero except what `put` writes, from the offset just past
    * the 8-byte header), then its children in order. The size is
    * derived from the contents — the writing mirror of [[boxWalk]]. */
  private final class BoxOut(tp: String, len: Long, kids: Seq[BoxOut],
      put: (Array[Byte], Int) => Unit) {
    val size: Long = 8 + len + kids.map(_.size).sum
    def write(out: Array[Byte], at: Int): Int = {
      wbe32(out, at, size.toInt); wTag(out, at + 4, tp)
      put(out, at + 8)
      kids.foldLeft(at + 8 + len.toInt)((o, k) => k.write(out, o))
    }
  }

  /** A box of `len` field bytes, written by `put`. */
  private def fields(tp: String, len: Long)(
      put: (Array[Byte], Int) => Unit): BoxOut = new BoxOut(tp, len, Nil, put)

  /** A box of child boxes only. */
  private def nest(tp: String, kids: BoxOut*): BoxOut =
    new BoxOut(tp, 0, kids, (_, _) => ())

  /** What an MP4 writer says about one track: its hdlr handler, tkhd
    * dims (0x0 for sound), media timescale, the one stts run of
    * `nSamples` samples `delta` ticks apart, its stsd sample entry (none
    * for a timing-only track), and its stsz/stsc/stco given the absolute
    * offset of the mdat payload. */
  private final case class TrakOut(handler: String, width: Int,
      height: Int, timescale: Int, nSamples: Int, delta: Int,
      entry: Option[BoxOut], index: Int => Seq[BoxOut])

  /** The one MP4 muxer (ISO/IEC 14496-12 layouts, version-0 full boxes):
    * ftyp('isom') + moov(mvhd + one trak per track) + mdat holding the
    * `mdat` parts back to back, or ftyp + mdat + moov when `moovLast`
    * (the streaming-muxer order). The first track's media timescale and
    * stts span are the movie's; every stco points into mdat wherever
    * it lands. */
  private def mp4Mux(traks: Seq[TrakOut], mdat: Seq[Array[Byte]],
      moovLast: Boolean): Array[Byte] = {
    val timescale = traks.head.timescale
    val duration = traks.head.nSamples * traks.head.delta
    val ftyp = fields("ftyp", 24) { (b, o) =>
      wTag(b, o, "isom"); wbe32(b, o + 4, 0x200) // major brand, minor
      wTag(b, o + 8, "isom"); wTag(b, o + 12, "iso2") // compatible
      wTag(b, o + 16, "mp41"); wTag(b, o + 20, "mp42")
    }
    def moov(data: Int): BoxOut = nest("moov", fields("mvhd", 100) {
      (b, o) =>
        // timescale, duration, rate 1.0, volume 1.0, identity matrix
        wbe32(b, o + 12, timescale); wbe32(b, o + 16, duration)
        wbe32(b, o + 20, 0x10000); wbe16(b, o + 24, 0x100)
        wbe32(b, o + 36, 0x10000); wbe32(b, o + 52, 0x10000)
        wbe32(b, o + 68, 0x40000000)
        wbe32(b, o + 96, traks.length + 1) // next_track_ID
    } +: traks.indices.map(i => trak(traks(i), i + 1, duration, data)): _*)
    val media = fields("mdat", mdat.map(_.length.toLong).sum) { (b, o) =>
      mdat.foldLeft(o) { (p, part) =>
        System.arraycopy(part, 0, b, p, part.length); p + part.length
      }
    }
    val data = ftyp.size + (if (moovLast) 0 else moov(0).size) + 8
    val boxes = if (moovLast) Seq(ftyp, media, moov(data.toInt))
      else Seq(ftyp, moov(data.toInt), media)
    val total = boxes.map(_.size).sum
    require(total <= Int.MaxValue, s"mp4 of $total bytes overflows one buffer")
    val out = new Array[Byte](total.toInt)
    boxes.foldLeft(0)((o, box) => box.write(out, o))
    out
  }

  /** Track `id`: tkhd (flags enabled + in movie, the movie duration,
    * 16.16 dims) + mdia(mdhd (media timescale and duration, language
    * 'und') + hdlr + minf(stbl(stsd + stts + the track's index))). */
  private def trak(t: TrakOut, id: Int, duration: Int, data: Int): BoxOut = {
    require(t.timescale > 0 && t.nSamples > 0 && t.delta > 0 &&
      (t.handler == "soun" || t.width > 0 && t.height > 0),
      "bad mp4 parameters")
    require(t.width <= 65535 && t.height <= 65535,
      s"mp4 track ${t.width}x${t.height} overflows the 16.16 tkhd dims")
    val stsd = t.entry.map(e =>
      new BoxOut("stsd", 8, Seq(e), (b, o) => wbe32(b, o + 4, 1)))
    val stts = fields("stts", 16) { (b, o) =>
      wbe32(b, o + 4, 1); wbe32(b, o + 8, t.nSamples); wbe32(b, o + 12, t.delta)
    }
    nest("trak",
      fields("tkhd", 84) { (b, o) =>
        b(o + 3) = 3
        wbe32(b, o + 12, id); wbe32(b, o + 20, duration)
        wbe32(b, o + 40, 0x10000); wbe32(b, o + 56, 0x10000)
        wbe32(b, o + 72, 0x40000000)
        wbe32(b, o + 76, t.width << 16); wbe32(b, o + 80, t.height << 16)
      },
      nest("mdia",
        fields("mdhd", 24) { (b, o) =>
          wbe32(b, o + 12, t.timescale); wbe32(b, o + 16, t.nSamples * t.delta)
          wbe16(b, o + 20, 0x55c4)
        },
        // handler_type; name = one NUL byte
        fields("hdlr", 25)((b, o) => wTag(b, o + 8, t.handler)),
        nest("minf", nest("stbl", stsd.toSeq ++ (stts +: t.index(data)): _*))))
  }

  /** The 'raw ' VisualSampleEntry: uncompressed packed RGB24 rows. */
  private def rawEntry(width: Int, height: Int): BoxOut =
    fields("raw ", 78) { (b, o) =>
      wbe16(b, o + 6, 1)                   // data_reference_index
      wbe16(b, o + 24, width); wbe16(b, o + 26, height)
      wbe32(b, o + 28, 0x480000)           // 72 dpi, 16.16 fixed
      wbe32(b, o + 32, 0x480000)
      wbe16(b, o + 40, 1)                  // frame_count per sample
      wbe16(b, o + 74, 24)                 // depth: packed RGB24
      wbe16(b, o + 76, 0xffff)             // pre_defined = -1
    }

  /** The 'sowt' AudioSampleEntry: mono little-endian PCM16 at `rate`. */
  private def sowtEntry(rate: Int): BoxOut = {
    require(rate > 0 && rate <= 65535,
      s"audio rate $rate overflows the 16.16 sample entry rate")
    fields("sowt", 28) { (b, o) =>
      wbe16(b, o + 6, 1)                   // data_reference_index
      wbe16(b, o + 16, 1)                  // channelcount: mono
      wbe16(b, o + 18, 16)                 // samplesize bits
      wbe32(b, o + 24, rate << 16)
    }
  }

  /** stsz: `n` samples of `fixed` bytes each, or, when `fixed` is 0,
    * one size per sample from `table`. */
  private def stsz(n: Int, fixed: Int,
      table: Array[Int] = Array.emptyIntArray): BoxOut =
    fields("stsz", 12 + 4L * table.length) { (b, o) =>
      wbe32(b, o + 4, fixed); wbe32(b, o + 8, n)
      table.indices.foreach(i => wbe32(b, o + 12 + 4 * i, table(i)))
    }

  /** stsc: one run — every chunk holds `spc` samples of entry 1. */
  private def stsc(spc: Int): BoxOut = fields("stsc", 20) { (b, o) =>
    wbe32(b, o + 4, 1)
    wbe32(b, o + 8, 1); wbe32(b, o + 12, spc); wbe32(b, o + 16, 1)
  }

  /** stco: the absolute offsets of chunks that start `rel` bytes into
    * the mdat payload at `data`. */
  private def stco(data: Int, rel: Seq[Int]): BoxOut =
    fields("stco", 8 + 4L * rel.length) { (b, o) =>
      wbe32(b, o + 4, rel.length)
      rel.indices.foreach(i => wbe32(b, o + 8 + 4 * i, data + rel(i)))
    }

  /** Container-level metadata of one MP4: everything a pipeline's
    * probe step (ffprobe / cv2 property reads) extracts WITHOUT
    * touching the codec payload, plus the mdat extent and a payload
    * byte sum proving the walk reached the actual sample data. */
  final case class Mp4Meta(brand: String, timescale: Int, duration: Long,
      nTracks: Int, handler: String, width: Int, height: Int,
      nSamples: Long, sampleDelta: Int, mdatBytes: Long, payloadSum: Long)

  trait ContainerProbe extends Serializable {
    def probe(bytes: Array[Byte]): Mp4Meta
  }

  /** Closed-form byte size of [[mp4Encode]]'s output: ftyp 32 + moov
    * 329 (mvhd 108 + trak 213: tkhd 92 + mdia 113 of mdhd 32 + hdlr
    * 33 + minf 40 of stbl 32 of stts 24) + mdat (8 + payload). */
  def mp4Size(payloadLen: Int): Int = 369 + payloadLen

  /** Encode a minimal-but-genuine single-video-track MP4 box tree
    * (ISO/IEC 14496-12 layouts, version-0 full boxes): ftyp('isom') +
    * moov(mvhd + trak(tkhd + mdia(mdhd + hdlr'vide' +
    * minf(stbl(stts))))) + mdat holding the (opaque) coded payload.
    * stts carries ONE run of `nSamples` samples at `sampleDelta`
    * ticks each — exactly where a real muxer puts frame count and
    * timing, and exactly what a probe reads back (fps = timescale /
    * sampleDelta for constant-rate streams). `moovLast` emits the
    * streaming-muxer box order (mdat before moov) so probes must walk
    * boxes, not assume offsets. */
  def mp4Encode(timescale: Int, nSamples: Int, sampleDelta: Int,
      width: Int, height: Int, payload: Array[Byte],
      moovLast: Boolean = false): Array[Byte] =
    mp4Mux(Seq(TrakOut("vide", width, height, timescale, nSamples,
      sampleDelta, None, _ => Nil)), Seq(payload), moovLast)

  /** One indexed sample: its ordinal, ABSOLUTE byte offset in the
    * container, and size — what stsz/stsc/stco resolve to. */
  final case class Mp4Sample(k: Int, off: Long, size: Int)

  trait ContainerIndexer extends Serializable {
    def index(bytes: Array[Byte]): Array[Mp4Sample]
  }

  /** Closed-form byte size of [[mp4EncodeIndexed]]'s output: the
    * [[mp4Size]] tree grown by stsz (20 + 4n) + stsc 28 + stco 20
    * inside stbl. */
  def mp4SizeIndexed(nSamples: Int, payloadLen: Int): Int =
    437 + 4 * nSamples + payloadLen

  /** [[mp4Encode]] with the full sample INDEX a real reader seeks
    * through: stsz carries the per-sample byte sizes, stsc maps all
    * samples into one chunk, stco holds that chunk's ABSOLUTE file
    * offset (so the index depends on box order — the encoder computes
    * it, the indexer must honor it). payload = the samples'
    * concatenated bytes. */
  def mp4EncodeIndexed(timescale: Int, sampleDelta: Int,
      width: Int, height: Int, sampleSizes: Array[Int],
      payload: Array[Byte], moovLast: Boolean = false): Array[Byte] = {
    require(sampleSizes.forall(_ >= 0) &&
      sampleSizes.map(_.toLong).sum == payload.length,
      "sample sizes must be non-negative and sum to the payload length")
    val n = sampleSizes.length
    mp4Mux(Seq(TrakOut("vide", width, height, timescale, n, sampleDelta,
      None, data => Seq(stsz(n, 0, sampleSizes), stsc(n), stco(data, Seq(0))))),
      Seq(payload), moovLast)
  }

  /** Parse one stsz box into per-sample sizes — fixed form or table
    * form, with Long-safe bounds (a corrupted count must not
    * overflow the Int size guard) and a fits-the-container check
    * before the fixed-form allocation. Shared by every MP4 reader. */
  private def parseStsz(b: Array[Byte], off: Int): Array[Int] = {
    val size = be32(b, off)
    require(size >= 20, s"stsz too short ($size)")
    val fixed = be32(b, off + 12)
    val n = be32(b, off + 16)
    require(n >= 1, s"stsz sample count $n")
    if (fixed == 0) {
      require(size.toLong >= 20L + n.toLong * 4,
        s"stsz table for $n samples overruns box size $size")
      Array.tabulate(n)(i => be32(b, off + 20 + i * 4))
    } else {
      // a negative fixed size would pass the product check and reach
      // the allocation of a crafted (huge) count
      require(fixed > 0 && fixed.toLong * n <= b.length,
        s"$n samples of $fixed bytes exceed the container")
      Array.fill(n)(fixed)
    }
  }

  /** Parse one single-run stsc box into samples-per-chunk. */
  private def parseStsc(b: Array[Byte], off: Int): Int = {
    require(be32(b, off) >= 28 && be32(b, off + 12) == 1,
      "only the single-run stsc layout is supported")
    be32(b, off + 20)
  }

  /** Parse one stco box into absolute chunk offsets (one or many). */
  private def parseStco(b: Array[Byte], off: Int): Array[Long] = {
    val size = be32(b, off)
    require(size >= 16, s"stco too short ($size)")
    val c = be32(b, off + 12)
    require(c >= 1 && size.toLong >= 16L + c.toLong * 4,
      s"stco table for $c chunks overruns box size $size")
    Array.tabulate(c)(i =>
      be32(b, off + 16 + i * 4).toLong & 0xffffffffL)
  }

  /** Cumulate (stsz sizes, stsc samples-per-chunk, stco chunk
    * offsets) into one (ordinal, absolute offset, size) row per
    * sample — sample k lives in chunk k / spc at that chunk's stco
    * anchor plus the within-chunk size prefix, each extent verified
    * to lie inside the buffer. The constant-interleave contract this
    * engine emits (every chunk exactly spc samples) is CHECKED:
    * chunks x spc must equal the stsz count. */
  private[multimodal] def resolveSamples(sizes: Array[Int], spc: Int,
      chunkOffs: Array[Long], totalLen: Int): Array[Mp4Sample] = {
    require(spc >= 1, s"stsc samples/chunk $spc")
    require(chunkOffs.length.toLong * spc == sizes.length,
      s"stsc ${chunkOffs.length} chunks x $spc samples/chunk != " +
        s"stsz count ${sizes.length}")
    val out = new Array[Mp4Sample](sizes.length)
    var k = 0
    var cur = 0L
    while (k < sizes.length) {
      if (k % spc == 0) cur = chunkOffs(k / spc)
      require(sizes(k) >= 0 && cur >= 0 && cur + sizes(k) <= totalLen,
        s"sample $k (${sizes(k)} bytes at $cur) outside the container")
      out(k) = Mp4Sample(k, cur, sizes(k))
      cur += sizes(k)
      k += 1
    }
    out
  }

  /** The one ISO-BMFF box walk: hands each box in [from, end) to
    * `visit` as (type, box offset, size), in file order. A size below 8
    * (0 = "to end of file" and 1 = 64-bit largesize are rejected as
    * unsupported rather than misparsed) or past the parent's end fails
    * before the box is read, so crafted sizes can neither loop nor
    * over-index. */
  private def boxWalk(b: Array[Byte], from: Int, end: Int)(
      visit: (String, Int, Int) => Unit): Unit = {
    var off = from
    while (off + 8 <= end) {
      val size = be32(b, off)
      val tp = fourcc(b, off + 4)
      require(size >= 8 && off.toLong + size <= end,
        s"corrupt box '$tp' size $size at offset $off")
      visit(tp, off, size)
      off += size
    }
  }

  /** One trak of an MP4, located by [[mp4Walk]]: the offset of the last
    * box of each type in its mdia/minf/stbl subtree. Each accessor
    * checks the box it reads. */
  private final class Mp4Trak(b: Array[Byte]) {
    val boxes = scala.collection.mutable.HashMap.empty[String, Int]

    /** Offset of the trak's `tp` box, or -1 when it has none; a box
      * that is there must hold `min` bytes. */
    def box(tp: String, min: Int): Int = boxes.get(tp) match {
      case Some(o) =>
        require(be32(b, o) >= min, s"$tp too short (${be32(b, o)})")
        o
      case None => -1
    }

    /** hdlr handler type ('vide', 'soun', ...; "" without an hdlr). */
    def handler: String = {
      val o = box("hdlr", 24)
      if (o < 0) "" else fourcc(b, o + 16)
    }

    /** Media timescale of the version-0 mdhd. */
    def timescale: Int = {
      val o = box("mdhd", 32)
      require(o >= 0 && (b(o + 8) & 0xff) == 0,
        "missing or non-version-0 mdhd")
      be32(b, o + 20)
    }

    /** Fourcc of the single stsd sample entry. */
    def format: String = {
      val o = box("stsd", 24)
      require(o >= 0 && be32(b, o + 12) == 1,
        "only a single-entry stsd is supported")
      fourcc(b, o + 20)
    }

    /** Sample delta of a single-run stts. */
    def sampleDelta: Int = {
      val o = box("stts", 24)
      require(o >= 0 && be32(b, o + 12) == 1,
        "only the single-run stts layout is supported")
      be32(b, o + 20)
    }

    /** Every sample's absolute extent, from stsz/stsc/stco. */
    def samples: Array[Mp4Sample] = {
      val (z, c, o) = (box("stsz", 0), box("stsc", 0), box("stco", 0))
      require(z >= 0 && c >= 0 && o >= 0, "missing stsz, stsc or stco")
      resolveSamples(parseStsz(b, z), parseStsc(b, c), parseStco(b, o),
        b.length)
    }
  }

  /** Walk an MP4 with [[boxWalk]]: the top level and moov go to `visit`
    * (type, offset, size), except that each trak's subtree (through
    * mdia/minf/stbl) is located into its own [[Mp4Trak]] — a second
    * track's boxes (an audio trak's 0x0 tkhd, its own stts) never
    * shadow the first's. Box ORDER is free (a streaming muxer puts
    * moov after mdat); the walk never assumes offsets. */
  private def mp4Walk(b: Array[Byte])(
      visit: (String, Int, Int) => Unit = (_, _, _) => ()): Seq[Mp4Trak] = {
    require(b.length >= 16, "too short for an MP4")
    val traks = scala.collection.mutable.ArrayBuffer.empty[Mp4Trak]
    def trak(t: Mp4Trak, from: Int, end: Int): Unit =
      boxWalk(b, from, end) { (tp, off, size) =>
        if (tp == "mdia" || tp == "minf" || tp == "stbl")
          trak(t, off + 8, off + size)
        else t.boxes(tp) = off
      }
    def walk(from: Int, end: Int): Unit =
      boxWalk(b, from, end) { (tp, off, size) =>
        tp match {
          case "moov" => walk(off + 8, off + size)
          case "trak" =>
            traks += new Mp4Trak(b)
            trak(traks.last, off + 8, off + size)
          case _ => visit(tp, off, size)
        }
      }
    walk(0, b.length)
    traks.toSeq
  }

  /** The one trak with handler `handler`: a second one is ambiguous. */
  private def mp4Track(traks: Seq[Mp4Trak],
      handler: String): Mp4Trak = {
    val ts = traks.filter(_.handler == handler)
    require(ts.length == 1,
      s"need one '$handler' trak, found ${ts.length}")
    ts.head
  }

  /** The real indexer: [[mp4Walk]] to the 'vide' trak's sample tables
    * — stsz's per-sample sizes (fixed or table form), stsc's
    * samples-per-chunk, stco's absolute chunk offsets (ONE OR MANY —
    * the multi-chunk layout interleaved real muxers emit) — cumulated
    * into one (ordinal, absolute offset, size) row per sample, each
    * verified to lie inside the buffer. This is the seek path of every
    * real MP4 reader: resolve the index, then read sample bytes
    * straight out of mdat without touching a decoder. */
  final class Mp4Indexer extends ContainerIndexer {
    def index(b: Array[Byte]): Array[Mp4Sample] =
      mp4Track(mp4Walk(b)(), "vide").samples
  }

  /** The real probe: [[mp4Walk]] reads brand (ftyp), movie timescale +
    * duration (mvhd v0) and the mdat extent + payload byte sum; then
    * each trak's dims (tkhd v0, 16.16 fixed), handler type (hdlr) and
    * stts sample count/delta. The 'vide' trak's fields win, else the
    * first trak with a handler; a second video trak is rejected
    * rather than silently shadowed. */
  final class Mp4Probe extends ContainerProbe {
    def probe(b: Array[Byte]): Mp4Meta = {
      var brand = ""; var timescale = 0; var duration = 0L
      var mdatBytes = -1L; var payloadSum = 0L
      val traks = mp4Walk(b) { (tp, off, size) =>
        tp match {
          case "ftyp" =>
            require(size >= 16, s"ftyp too short ($size)")
            brand = fourcc(b, off + 8)
          case "mvhd" =>
            require(size >= 108 && (b(off + 8) & 0xff) == 0,
              "only version-0 mvhd supported")
            timescale = be32(b, off + 20)
            duration = be32(b, off + 24).toLong & 0xffffffffL
          case "mdat" =>
            mdatBytes = (size - 8).toLong
            var i = off + 8
            while (i < off + size) {
              payloadSum += b(i) & 0xff
              i += 1
            }
          case _ => ()
        }
      }
      // (handler, width, height, stts sample count, first delta)
      val tracks = traks.map { t =>
        val k = t.box("tkhd", 92)
        require(k < 0 || (b(k + 8) & 0xff) == 0,
          "only version-0 tkhd supported")
        val s = t.box("stts", 16)
        val runs = if (s < 0) 0 else be32(b, s + 12)
        require(s < 0 || runs >= 1 && be32(b, s) >= 16L + runs.toLong * 8,
          s"stts entry count $runs overruns its box")
        var n = 0L
        var i = 0
        while (i < runs) {
          n += be32(b, s + 16 + i * 8).toLong & 0xffffffffL
          i += 1
        }
        (t.handler, if (k < 0) 0 else be32(b, k + 84) >>> 16,
          if (k < 0) 0 else be32(b, k + 88) >>> 16, n,
          if (runs > 0) be32(b, s + 20) else 0)
      }
      val vide = tracks.filter(_._1 == "vide")
      require(vide.length <= 1, "two video tracks: ambiguous probe target")
      require(brand.nonEmpty, "missing ftyp")
      require(timescale > 0, "missing or zero mvhd timescale")
      val pick = vide.headOption.orElse(tracks.find(_._1.nonEmpty))
      require(pick.isDefined, "missing trak/hdlr")
      val (handler, width, height, nSamples, sampleDelta) = pick.get
      require(nSamples > 0 && sampleDelta > 0, "missing stts timing")
      require(mdatBytes >= 0, "missing mdat")
      Mp4Meta(brand, timescale, duration, traks.length, handler,
        width, height, nSamples, sampleDelta, mdatBytes, payloadSum)
    }
  }

  private def be16(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  /** Closed-form byte size of [[mp4EncodeVideo]]'s output: ftyp 32 +
    * moov 499 (mvhd 108 + trak 383: tkhd 92 + mdia 283 of mdhd 32 +
    * hdlr 33 + minf 210 of stbl 202 holding stsd 102 + stts 24 +
    * stsz 20 + stsc 28 + stco 20) + mdat (8 + nFrames x w x h x 3). */
  def mp4SizeVideo(payloadLen: Int): Int = 539 + payloadLen

  /** Encode top-down RGB rasters as a DECODABLE MP4: the
    * [[mp4EncodeIndexed]] tree grown by an `stsd` sample-description
    * box whose single VisualSampleEntry is the QuickTime/ISO
    * UNCOMPRESSED video format (fourcc 'raw ', depth 24 — packed RGB
    * rows, no padding; the layout QuickTime registered for raw video
    * in MP4-family containers). With the sample DESCRIPTION carried
    * in-band, a reader needs no out-of-band knowledge: stsd says how
    * to interpret sample bytes, stts how to time them, stsz/stsc/
    * stco where to find them. stsz uses its FIXED-size form (all
    * rasters are w*h*3 — the form real muxers emit for constant-size
    * samples). `moovLast` again emits the streaming-muxer box order. */
  def mp4EncodeVideo(timescale: Int, sampleDelta: Int, width: Int,
      height: Int, frames: Seq[Array[Byte]],
      moovLast: Boolean = false): Array[Byte] = {
    requireFrames(width, height, frames)
    val nf = frames.length
    mp4Mux(Seq(TrakOut("vide", width, height, timescale, nf, sampleDelta,
      Some(rawEntry(width, height)), data =>
        Seq(stsz(nf, width * height * 3), stsc(nf), stco(data, Seq(0))))),
      frames, moovLast)
  }

  /** The real MP4 VIDEO decoder — frame rasters parsed out of the
    * reference's actual container format (raw_to_samples.py opens
    * .mp4; ISO/IEC 14496-12). Reads the 'vide' trak of the shared
    * per-trak parse ([[mp4Walk]]; a two-track file's 'soun' trak is
    * left alone) for the in-band metadata (stsd's VisualSampleEntry
    * gives the sample FORMAT — required to be the uncompressed 'raw '
    * RGB24 entry — and dims; mdhd gives the media timescale; stts the
    * sample delta, so fps = timescale / delta) and the [[Mp4Indexer]]
    * stsz/stsc/stco seek path for each sample's absolute extent;
    * each sample is then read straight out of mdat as a top-down
    * packed-RGB raster. With this, the surrogate boundary covers
    * only COMPRESSED codec payloads (H.264 etc. — no media libs);
    * the container, index, timing, and uncompressed-frame rungs of
    * the reference's cv2.VideoCapture loop all run on parsed bytes. */
  final class Mp4VideoDecoder extends VideoDecoder {
    def decode(b: Array[Byte]): DecodedVideo =
      rawVideo(b, mp4Track(mp4Walk(b)(), "vide"))
  }

  /** The frames of a 'raw ' RGB24 video trak: dims from its
    * VisualSampleEntry (depth 24, raster bound checked), fps = mdhd
    * timescale / single-run stts delta, and each sample, at its
    * index-resolved extent, one top-down packed-RGB raster. */
  private def rawVideo(b: Array[Byte], t: Mp4Trak): DecodedVideo = {
    val format = t.format
    require(format == "raw ",
      s"unsupported sample format '$format' — only the " +
        "uncompressed 'raw ' RGB entry decodes without a codec")
    val e = t.box("stsd", 102) + 16 // the VisualSampleEntry
    require(be16(b, e + 82) == 24,
      s"only depth-24 packed RGB supported (${be16(b, e + 82)})")
    val width = be16(b, e + 32)
    val height = be16(b, e + 34)
    require(width > 0 && height > 0 &&
      width.toLong * height * 3 <= Int.MaxValue,
      s"corrupt stsd dimensions ${width}x$height")
    val timescale = t.timescale
    val sampleDelta = t.sampleDelta
    require(timescale > 0 && sampleDelta > 0, "missing mdhd/stts timing")
    val fsize = width * height * 3
    val frames = t.samples.map { sm =>
      require(sm.size == fsize,
        s"sample ${sm.k} is ${sm.size} bytes, raster needs $fsize")
      java.util.Arrays.copyOfRange(b, sm.off.toInt, sm.off.toInt + fsize)
    }
    DecodedVideo(width, height, timescale / sampleDelta, frames)
  }

  /** Closed-form byte size of [[mp4EncodeAv]]'s output: ftyp 32 +
    * moov (824 + 8 x nFrames: mvhd 108 + video trak 379+4nf + audio
    * trak 329+4nf — each trak's stco carries nf chunk offsets) +
    * mdat (8 + nFrames x (w x h x 3 + 2 x samplesPerFrame)). */
  def mp4SizeAv(width: Int, height: Int, nFrames: Int,
      samplesPerFrame: Int): Int =
    864 + 8 * nFrames +
      nFrames * (width * height * 3 + 2 * samplesPerFrame)

  /** Encode an interleaved TWO-TRACK MP4 — the layout real muxers
    * emit for AV files: one 'vide' trak (stsd 'raw ' RGB24) and one
    * 'soun' trak (stsd 'sowt', QuickTime's signed little-endian
    * PCM16 AudioSampleEntry), whose mdat alternates one video raster
    * with that frame's audio block. Each trak owns its full sample
    * machinery: the video stco carries nf chunk offsets (one raster
    * per chunk, stsc run 1-sample-per-chunk), the audio stco nf
    * offsets (stsc run samplesPerFrame-per-chunk, stsz fixed 2) —
    * the MULTI-CHUNK index single-track files never exercise. Audio
    * media timescale = video fps x samplesPerFrame so both tracks
    * cover the same wall-clock. */
  def mp4EncodeAv(timescale: Int, sampleDelta: Int, width: Int,
      height: Int, frames: Seq[Array[Byte]], samplesPerFrame: Int,
      samples: Array[Short], moovLast: Boolean = false): Array[Byte] = {
    val nf = frames.length
    require(timescale > 0 && sampleDelta > 0 && samplesPerFrame > 0 &&
      timescale % sampleDelta == 0, "bad mp4 parameters")
    require(samples.length.toLong == nf.toLong * samplesPerFrame,
      s"audio length ${samples.length} != $nf x $samplesPerFrame")
    requireFrames(width, height, frames)
    val fsize = width * height * 3
    val audioRate = (timescale / sampleDelta) * samplesPerFrame
    // each frame's audio block as 'sowt' = little-endian PCM16
    val pcm = frames.indices.map { f =>
      val a = new Array[Byte](2 * samplesPerFrame)
      var i = 0
      while (i < samplesPerFrame) {
        w16(a, 2 * i, samples(f * samplesPerFrame + i) & 0xffff)
        i += 1
      }
      a
    }
    // mdat alternates frame f's raster and its audio block: chunk f of
    // the video and of the audio track
    def chunks(first: Int): Seq[Int] =
      frames.indices.map(f => f * (fsize + 2 * samplesPerFrame) + first)
    mp4Mux(Seq(
      TrakOut("vide", width, height, timescale, nf, sampleDelta,
        Some(rawEntry(width, height)),
        data => Seq(stsz(nf, fsize), stsc(1), stco(data, chunks(0)))),
      TrakOut("soun", 0, 0, audioRate, nf * samplesPerFrame, 1,
        Some(sowtEntry(audioRate)),
        data => Seq(stsz(nf * samplesPerFrame, 2), stsc(samplesPerFrame),
          stco(data, chunks(fsize))))),
      frames.zip(pcm).flatMap { case (v, a) => Seq(v, a) }, moovLast)
  }

  /** The real TWO-TRACK MP4 decoder: the per-trak parse of
    * [[mp4Walk]] keeps each trak's stsd/stts/stsz/stsc/stco apart
    * (routed by hdlr), then each track's samples resolve through the
    * shared multi-chunk index cumulation ([[resolveSamples]]) and read
    * straight out of the interleaved mdat: video rasters from the
    * 'raw ' track ([[rawVideo]]), little-endian PCM16 from the 'sowt'
    * track — one parse of one byte stream yields both typed
    * modalities, through the genuinely multi-chunk stco layout
    * interleaving forces. */
  final class Mp4AvDecoder extends AvDecoder {
    def decode(b: Array[Byte]): DecodedAv = {
      val traks = mp4Walk(b)()
      val video = rawVideo(b, mp4Track(traks, "vide"))
      val a = mp4Track(traks, "soun")
      val format = a.format
      require(format == "sowt", s"unsupported sample format '$format' — " +
        "only 'raw ' video and 'sowt' PCM decode without a codec")
      val e = a.box("stsd", 52) + 16 // the AudioSampleEntry
      require(be16(b, e + 26) == 16, "only 16-bit PCM supported")
      val rate = a.timescale // media timescale IS the PCM sample rate
      require(rate > 0, "missing audio mdhd timescale")
      val pcm = a.samples.map { sm =>
        require(sm.size == 2, s"PCM sample ${sm.k} is ${sm.size} bytes")
        u16(b, sm.off.toInt).toShort // 'sowt': little-endian
      }
      DecodedAv(video, DecodedAudio(rate, be16(b, e + 24), pcm))
    }
  }

  // ---------------------------------------------------------------
  // PNG (ISO/IEC 15948 / RFC 2083) — the first COMPRESSED format
  // behind the real-codec boundary. Every earlier codec (BMP, WAV,
  // AVI, the MP4 box walk) parses uncompressed byte layouts; PNG adds
  // the two machines a compressed format needs, both fully specified
  // and pure-JVM: DEFLATE (RFC 1950/1951, via the JDK's built-in zlib
  // binding java.util.zip — a public platform API, not a library
  // dependency) and PNG's per-scanline adaptive prediction filters
  // (None/Sub/Up/Average/Paeth). PNG is LOSSLESS, so the encode ->
  // real bytes -> decode round trip still hash-checks exactly against
  // the oracle's pattern arithmetic — unlike JPEG, whose lossy DCT
  // keeps it on the documented surrogate side of the boundary.
  //
  // The encoder deliberately cycles the filter type per row (y % 5)
  // and splits the compressed stream across multiple IDAT chunks, so
  // a decoder that implements only filter 0 or reads only the first
  // IDAT fails the round trip; the decoder verifies every chunk's
  // CRC-32 — PNG's real integrity contract — before trusting a byte.
  // Cross-implementation conformance (our bytes through the JDK's
  // ImageIO PNG reader and ImageIO's bytes through this decoder) is
  // proven in MultimodalSpec, so the codec is spec-compliant, not
  // merely self-consistent.
  // ---------------------------------------------------------------

  private val PngSig: Array[Byte] = Array(0x89.toByte, 0x50, 0x4e,
    0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Paeth predictor (PNG spec §6.6): the neighbor closest to the
    * linear estimate a + b - c, ties broken left, up, up-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Byte length of the filtered (pre-DEFLATE) scanline stream: one
    * filter-type byte + 3 x width per row. The "compressed beats
    * stored" checked column in mm_decode_png bounds the real file
    * against 57 + this (signature 8 + IHDR chunk 25 + one IDAT
    * chunk's 12-byte overhead + IEND chunk 12 + payload — what a
    * stored-IDAT PNG of the same raster would at least cost). */
  def pngRawLen(width: Int, height: Int): Int = {
    // bound each dimension FIRST (2^24 is far beyond any real PNG and
    // keeps the Long product below 2^50), then validate the product in
    // Long before the Int multiply — crafted dims near 2^31 would
    // otherwise wrap the Long expression itself and pass the check
    require(width > 0 && height > 0 &&
      width < (1 << 24) && height < (1 << 24),
      s"corrupt PNG dimensions ${width}x$height")
    val raw = height.toLong * (1L + width.toLong * 3)
    require(raw <= Int.MaxValue,
      s"filtered PNG stream for ${width}x$height exceeds Int range")
    raw.toInt
  }

  /** The Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass.
    * Pass k holds the pixels at (x0 + i*dx, y0 + j*dy). */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** Byte length of the filtered stream of an Adam7-INTERLACED PNG:
    * each non-empty pass is its own sub-image (one filter byte per
    * pass scanline); passes with zero width or height contribute
    * NOTHING, not even filter bytes (spec §8.2). Long-validated like
    * [[pngRawLen]]. */
  def pngRawLenAdam7(width: Int, height: Int): Int = {
    // same per-dimension bound as pngRawLen: with both dims < 2^24
    // every per-pass Long product stays below 2^50 — no silent wrap
    require(width > 0 && height > 0 &&
      width < (1 << 24) && height < (1 << 24),
      s"corrupt PNG dimensions ${width}x$height")
    var total = 0L
    var k = 0
    while (k < 7) {
      val (x0, y0, dx, dy) = Adam7(k)
      val pw = if (width > x0) ((width - x0 + dx - 1) / dx).toLong else 0L
      val ph = if (height > y0) ((height - y0 + dy - 1) / dy).toLong else 0L
      if (pw > 0 && ph > 0) total += ph * (1L + pw * 3)
      k += 1
    }
    require(total <= Int.MaxValue,
      s"interlaced filtered PNG stream for ${width}x$height " +
        "exceeds Int range")
    total.toInt
  }

  /** Encode a top-down RGB raster as a genuine 8-bit truecolor PNG:
    * per-row adaptive filtering that CYCLES all five spec filters
    * (row y uses type y % 5), real DEFLATE compression, and the
    * compressed stream split across IDAT chunks of <= 512 bytes (real
    * encoders emit many IDATs; readers must concatenate). Each chunk
    * carries its spec CRC-32 over type + data. */
  def pngEncode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && rgb.length == width * height * 3,
      s"raster length ${rgb.length} != $width x $height x 3")
    val rowLen = width * 3
    val filtered = new Array[Byte](pngRawLen(width, height))
    var y = 0
    while (y < height) {
      val ft = y % 5
      val o = y * (1 + rowLen)
      filtered(o) = ft.toByte
      var x = 0
      while (x < rowLen) {
        val cur = rgb(y * rowLen + x) & 0xff
        val left = if (x >= 3) rgb(y * rowLen + x - 3) & 0xff else 0
        val up = if (y > 0) rgb((y - 1) * rowLen + x) & 0xff else 0
        val ul =
          if (x >= 3 && y > 0) rgb((y - 1) * rowLen + x - 3) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        filtered(o + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    pngWrap(width, height, 0, filtered)
  }

  /** DEFLATE the filtered stream and wrap it in signature + IHDR +
    * <=512-byte IDAT chunks + IEND with spec CRCs — shared by the
    * sequential and Adam7 encoders (only the IHDR interlace byte and
    * the filtered-stream layout differ). */
  private def pngWrap(width: Int, height: Int, interlace: Int,
      filtered: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater(
      java.util.zip.Deflater.BEST_SPEED)
    defl.setInput(filtered)
    defl.finish()
    val comp = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = comp.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, 8)
    def chunk(tp: String, data: Array[Byte], from: Int, len: Int): Unit = {
      val hdr = new Array[Byte](8)
      wbe32(hdr, 0, len)
      var i = 0
      while (i < 4) { hdr(4 + i) = tp.charAt(i).toByte; i += 1 }
      out.write(hdr, 0, 8)
      out.write(data, from, len)
      val crc = new java.util.zip.CRC32()
      crc.update(hdr, 4, 4)
      crc.update(data, from, len)
      val tail = new Array[Byte](4)
      wbe32(tail, 0, crc.getValue.toInt)
      out.write(tail, 0, 4)
    }
    val ihdr = new Array[Byte](13)
    wbe32(ihdr, 0, width); wbe32(ihdr, 4, height)
    ihdr(8) = 8 // bit depth
    ihdr(9) = 2 // color type: truecolor RGB
    // compression 0 (deflate), filter 0 (adaptive)
    ihdr(12) = interlace.toByte
    chunk("IHDR", ihdr, 0, 13)
    var off = 0
    while (off < idat.length) {
      val n = math.min(512, idat.length - off)
      chunk("IDAT", idat, off, n)
      off += n
    }
    chunk("IEND", Array.emptyByteArray, 0, 0)
    out.toByteArray
  }

  /** [[pngEncode]]'s Adam7 INTERLACED twin: the raster splits into
    * the seven pass sub-images (spec §8.2), each filtered
    * independently with the same cycling five-filter strategy (row j
    * of a pass uses type j % 5, filters referencing neighbors within
    * the pass), the concatenated pass streams DEFLATE as one zlib
    * stream, and the IHDR carries interlace method 1. Decodes through
    * [[PngDecoder]]'s deinterlace path and through foreign readers
    * (ImageIO conformance in MultimodalSpec). */
  def pngEncodeAdam7(width: Int, height: Int,
      rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && rgb.length == width * height * 3,
      s"raster length ${rgb.length} != $width x $height x 3")
    val filtered = new Array[Byte](pngRawLenAdam7(width, height))
    var o = 0
    var k = 0
    while (k < 7) {
      val (x0, y0, dx, dy) = Adam7(k)
      val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val rl = pw * 3
        val sub = new Array[Byte](ph * rl)
        var j = 0
        while (j < ph) {
          var i = 0
          while (i < pw) {
            val src = ((y0 + j * dy) * width + (x0 + i * dx)) * 3
            val dst = (j * pw + i) * 3
            sub(dst) = rgb(src)
            sub(dst + 1) = rgb(src + 1)
            sub(dst + 2) = rgb(src + 2)
            i += 1
          }
          j += 1
        }
        j = 0
        while (j < ph) {
          val ft = j % 5
          filtered(o) = ft.toByte
          var x = 0
          while (x < rl) {
            val cur = sub(j * rl + x) & 0xff
            val left = if (x >= 3) sub(j * rl + x - 3) & 0xff else 0
            val up = if (j > 0) sub((j - 1) * rl + x) & 0xff else 0
            val ul =
              if (x >= 3 && j > 0) sub((j - 1) * rl + x - 3) & 0xff
              else 0
            val pred = ft match {
              case 0 => 0
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case _ => paeth(left, up, ul)
            }
            filtered(o + 1 + x) = ((cur - pred) & 0xff).toByte
            x += 1
          }
          o += 1 + rl
          j += 1
        }
      }
      k += 1
    }
    pngWrap(width, height, 1, filtered)
  }

  /** The real decoder: verifies the 8-byte signature, walks the chunk
    * list validating LENGTH AND CRC-32 of every chunk (ancillary
    * chunks are skipped but still CRC-checked — corruption anywhere
    * in the file fails fast), concatenates the IDAT stream, inflates
    * it through the JDK's zlib, requires the inflated length to match
    * the IHDR dims exactly, and reverses the per-row adaptive filter
    * (all five spec types) into a top-down RGB raster. Adam7
    * interlaced files decode too: each non-empty pass unfilters as
    * its own sub-image and scatters onto the pass grid (spec §8.2) —
    * foreign progressive PNGs (e.g. ImageIO's) are conformance-
    * tested in MultimodalSpec. */
  final class PngDecoder extends ImageDecoder {
    def decode(b: Array[Byte]): DecodedImage = {
      require(b.length >= 8 + 25 + 12, "too short for a PNG")
      var i = 0
      while (i < 8) {
        require(b(i) == PngSig(i), "not a PNG"); i += 1
      }
      var off = 8
      var width = 0; var height = 0
      var interlaced = false
      var seenIhdr = false; var seenIend = false
      val idat = new java.io.ByteArrayOutputStream()
      while (off + 12 <= b.length && !seenIend) {
        val len = be32(b, off)
        val tp = new String(b, off + 4, 4, "US-ASCII")
        require(len >= 0 && off + 12 + len.toLong <= b.length,
          s"corrupt PNG chunk '$tp' len $len at offset $off")
        val crc = new java.util.zip.CRC32()
        crc.update(b, off + 4, 4 + len)
        require(crc.getValue.toInt == be32(b, off + 8 + len),
          s"bad CRC on PNG chunk '$tp' at offset $off")
        tp match {
          case "IHDR" =>
            require(!seenIhdr && len == 13, "bad IHDR")
            width = be32(b, off + 8); height = be32(b, off + 12)
            // bound BOTH the raster AND the filtered stream
            // (pngRawLen adds one filter byte per row, so crafted
            // dims can pass the raster bound yet overflow the
            // filtered length — validate in Long arithmetic)
            require(width > 0 && height > 0 &&
              width.toLong * height * 3 <= Int.MaxValue &&
              height.toLong * (1L + width.toLong * 3) <= Int.MaxValue,
              s"corrupt PNG dimensions ${width}x$height")
            require((b(off + 16) & 0xff) == 8, "only 8-bit depth")
            require((b(off + 17) & 0xff) == 2, "only truecolor RGB")
            require(b(off + 18) == 0 && b(off + 19) == 0,
              "only deflate / adaptive filtering")
            require((b(off + 20) & 0xff) <= 1,
              s"unknown interlace method ${b(off + 20) & 0xff}")
            interlaced = b(off + 20) == 1
            seenIhdr = true
          case "IDAT" =>
            require(seenIhdr, "IDAT before IHDR")
            idat.write(b, off + 8, len)
          case "IEND" =>
            require(len == 0, "non-empty IEND")
            seenIend = true
          case _ => () // ancillary chunk: skipped, CRC verified above
        }
        off += 12 + len
      }
      require(seenIhdr && seenIend, "missing IHDR or IEND")
      val rowLen = width * 3
      val raw = new Array[Byte](
        if (interlaced) pngRawLenAdam7(width, height)
        else pngRawLen(width, height))
      val infl = new java.util.zip.Inflater()
      infl.setInput(idat.toByteArray)
      var got = 0
      try {
        var n = 1
        while (got < raw.length && n != 0) {
          n = infl.inflate(raw, got, raw.length - got)
          got += n
        }
        require(got == raw.length,
          s"IDAT inflates to $got bytes, expected ${raw.length}")
        // the stream must END at the declared raster: a longer one
        // means the IHDR dims lie
        val probe = new Array[Byte](1)
        require(infl.finished() || infl.inflate(probe, 0, 1) == 0,
          "IDAT longer than the declared raster")
      } catch {
        case _: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(
            s"corrupt DEFLATE stream in IDAT at byte $got")
      } finally infl.end()
      // reverse the per-row adaptive filter over one (sub-)image's
      // scanlines — filters reference RECONSTRUCTED neighbors within
      // the SAME pass (spec §6.5; for interlaced images each pass is
      // filtered as an independent sub-image, §8.2)
      def unfilter(srcOff: Int, w: Int, h: Int): Array[Byte] = {
        val rl = w * 3
        val out = new Array[Byte](h * rl)
        var y = 0
        while (y < h) {
          val ro = srcOff + y * (1 + rl)
          val ft = raw(ro) & 0xff
          require(ft <= 4, s"unknown PNG filter type $ft on row $y")
          var x = 0
          while (x < rl) {
            val cur = raw(ro + 1 + x) & 0xff
            val left = if (x >= 3) out(y * rl + x - 3) & 0xff else 0
            val up = if (y > 0) out((y - 1) * rl + x) & 0xff else 0
            val ul =
              if (x >= 3 && y > 0) out((y - 1) * rl + x - 3) & 0xff
              else 0
            val pred = ft match {
              case 0 => 0
              case 1 => left
              case 2 => up
              case 3 => (left + up) / 2
              case _ => paeth(left, up, ul)
            }
            out(y * rl + x) = ((cur + pred) & 0xff).toByte
            x += 1
          }
          y += 1
        }
        out
      }
      if (!interlaced) DecodedImage(width, height, unfilter(0, width, height))
      else {
        // Adam7: each non-empty pass unfilters as its own sub-image,
        // then scatters onto the final raster at (x0+i*dx, y0+j*dy)
        val rgb = new Array[Byte](height * rowLen)
        var srcOff = 0
        var k = 0
        while (k < 7) {
          val (x0, y0, dx, dy) = Adam7(k)
          val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
          val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
          if (pw > 0 && ph > 0) {
            val sub = unfilter(srcOff, pw, ph)
            srcOff += ph * (1 + pw * 3)
            var j = 0
            while (j < ph) {
              var i = 0
              while (i < pw) {
                val dst = ((y0 + j * dy) * width + (x0 + i * dx)) * 3
                val src = (j * pw + i) * 3
                rgb(dst) = sub(src)
                rgb(dst + 1) = sub(src + 1)
                rgb(dst + 2) = sub(src + 2)
                i += 1
              }
              j += 1
            }
          }
          k += 1
        }
        DecodedImage(width, height, rgb)
      }
    }
  }

  // ---------------------------------------------------------------
  // GIF87a — the SECOND compressed format, with a genuinely
  // different entropy coder: variable-width LZW (clear/EOI codes,
  // 9->12-bit code growth, LSB-first bit packing, 255-byte
  // sub-blocking), implemented here from the public GIF87a spec in
  // BOTH directions — no library involvement at all, unlike PNG
  // whose DEFLATE rides the JDK's zlib. GIF is palette-indexed:
  // the raster is an INDEX plane and color resolves through the
  // global color table, so losslessness means index-exact round
  // trips and the decoded RGB is palette[index] — all replayable
  // arithmetic. Cross-implementation conformance (our bytes through
  // ImageIO's GIF reader, ImageIO's GIF bytes through this decoder)
  // is proven in MultimodalSpec.
  // ---------------------------------------------------------------

  /** Magic-byte format detection — the DISPATCH rung every mixed
    * ingest needs. The reference trusts file extensions
    * (preprocess_dataset.py:10-31 filters on .mp4/.mov); content
    * sniffing is the robust form: the first bytes of every container
    * format are fixed by its spec (BMP 'BM', PNG signature, GIF
    * 'GIF8', RIFF fourcc + form type, ISO-BMFF 'ftyp' at offset 4),
    * so format resolves before any parser is chosen. Unknown bytes
    * tag as "unknown" rather than throwing — dispatch decides what
    * to do with them (quarantine, in the reference's error-channel
    * idiom). */
  def sniff(b: Array[Byte]): String = {
    if (b == null || b.length < 2) "unknown"
    else if (b(0) == 'B' && b(1) == 'M') "bmp"
    else if (b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G') "png"
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' &&
      b(2) == 'F' && b(3) == '8') "gif"
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff &&
      (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff) "jpeg"
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' &&
      b(2) == 'F' && b(3) == 'F') {
      if (b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
        "wav"
      else if (b(8) == 'A' && b(9) == 'V' && b(10) == 'I' &&
        b(11) == ' ') "avi"
      else "unknown"
    } else if (b.length >= 12 && b(4) == 'f' && b(5) == 't' &&
      b(6) == 'y' && b(7) == 'p') "mp4"
    else if (b.length >= 4 &&
      ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))) "tiff"
    else "unknown"
  }

  /** The fixed 256-entry palette both codec directions and the
    // oracle share: palette(i) = ((i*37)%256, (i*113)%256,
    // (i*211)%256) — multipliers coprime to 256 so all three
    // channels permute the byte range. */
  def gifPalette(i: Int): (Int, Int, Int) =
    ((i * 37) % 256, (i * 113) % 256, (i * 211) % 256)

  /** Encode an index raster (one byte per pixel, row-major top-down)
    * as a genuine GIF87a: header + logical screen descriptor +
    * 256-entry global color table ([[gifPalette]]) + image
    * descriptor + REAL variable-width LZW (initial code size 9,
    * clear 256, EOI 257, dictionary growth to 4096 then an emitted
    * clear — the actual GIF algorithm, not a stored shortcut) packed
    * LSB-first into 255-byte sub-blocks. */
  def gifEncode(width: Int, height: Int, indices: Array[Byte]): Array[Byte] =
    gifEncode(width, height, indices, interlaced = false)

  /** [[gifEncode]] with the GIF87a INTERLACE option: rows are stored
    * in the four-pass order (start 0 step 8, 4/8, 2/4, 1/2) and the
    * image descriptor carries the 0x40 flag — the progressive layout
    * legacy web encoders emit, which [[GifLzwDecoder]] already undoes
    * (spec'd against hand-built files since round 10). */
  def gifEncode(width: Int, height: Int, indices: Array[Byte],
      interlaced: Boolean): Array[Byte] = {
    require(indices.length == width.toLong * height,
      s"index raster length ${indices.length} != $width x $height")
    // the screen and image descriptors hold the dims as 16-bit fields
    require(width > 0 && height > 0 && width <= 65535 && height <= 65535,
      s"GIF dims ${width}x$height outside the 16-bit descriptor fields")
    val out = new java.io.ByteArrayOutputStream()
    out.write('G'); out.write('I'); out.write('F')
    out.write('8'); out.write('7'); out.write('a')
    def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    le16(width); le16(height)
    out.write(0xf7) // global table, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) {
      val (r, g, b) = gifPalette(i)
      out.write(r); out.write(g); out.write(b)
      i += 1
    }
    out.write(0x2c) // image descriptor
    le16(0); le16(0); le16(width); le16(height)
    // no local table; bit 6 = interlaced row order
    out.write(if (interlaced) 0x40 else 0)
    out.write(8) // LZW minimum code size
    // interlace stores the rows in four-pass order; the LZW below is
    // layout-agnostic, so permute first
    val stored =
      if (!interlaced) indices
      else {
        val p = new Array[Byte](indices.length)
        var k = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < height) {
            System.arraycopy(indices, y * width, p, k * width, width)
            k += 1; y += step
          }
        }
        p
      }

    // --- LZW compress (GIF variant) ---
    val Clear = 256
    val Eoi = 257
    val lzw = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var codeWidth = 9
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt
      bitCnt += codeWidth
      while (bitCnt >= 8) {
        lzw.write((bitBuf & 0xff).toInt)
        bitBuf >>>= 8
        bitCnt -= 8
      }
    }
    // dictionary: (prefix code, next byte) -> code
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = 258
    def key(prefix: Int, b: Int): Integer = Integer.valueOf((prefix << 8) | b)
    put(Clear)
    var cur = stored(0) & 0xff
    i = 1
    while (i < stored.length) {
      val b = stored(i) & 0xff
      val k = key(cur, b)
      val hit = dict.get(k)
      if (hit != null) cur = hit.intValue()
      else {
        put(cur)
        dict.put(k, Integer.valueOf(next))
        next += 1
        // widen AFTER the first code that needs the new width exists
        if (next == (1 << codeWidth) + 1 && codeWidth < 12) codeWidth += 1
        if (next == 4096) { // table full: emit clear, reset
          put(Clear)
          dict = new java.util.HashMap[Integer, Integer]()
          next = 258
          codeWidth = 9
        }
        cur = b
      }
      i += 1
    }
    put(cur)
    put(Eoi)
    if (bitCnt > 0) lzw.write((bitBuf & 0xff).toInt)
    val comp = lzw.toByteArray
    var off = 0
    while (off < comp.length) {
      val n = math.min(255, comp.length - off)
      out.write(n)
      out.write(comp, off, n)
      off += n
    }
    out.write(0)    // block terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Decoded palette image: the index plane AND the resolved RGB. */
  final case class DecodedGif(width: Int, height: Int,
      indices: Array[Byte], rgb: Array[Byte])

  trait GifDecoder extends Serializable {
    def decode(bytes: Array[Byte]): DecodedGif
  }

  /** The real decoder: validates the GIF87a/89a header, reads the
    * logical screen descriptor and global color table, walks to the
    * image descriptor (skipping 89a extension blocks sub-block by
    * sub-block), concatenates the LZW sub-blocks, and runs a genuine
    * variable-width LZW decode — string table with clear/EOI
    * handling, the KwKwK self-reference case, 9->12-bit growth —
    * undoes four-pass interlacing when the descriptor flags it, and
    * resolves indices through the PARSED color table (local table
    * overriding the global one when present). Every
    * length is validated before reading; corrupt bytes fail fast. */
  final class GifLzwDecoder extends GifDecoder {
    def decode(b: Array[Byte]): DecodedGif = {
      require(b.length >= 14 && b(0) == 'G' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == '8' && (b(4) == '7' || b(4) == '9') &&
        b(5) == 'a', "not a GIF87a/89a")
      def le16(off: Int): Int = (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
      val packed = b(10) & 0xff
      require((packed & 0x80) != 0, "missing global color table")
      val tableSize = 2 << (packed & 7)
      var off = 13
      require(off + tableSize * 3 <= b.length,
        s"color table of $tableSize entries overruns the buffer")
      val palette = new Array[Byte](tableSize * 3)
      System.arraycopy(b, off, palette, 0, tableSize * 3)
      off += tableSize * 3
      // walk to the image descriptor, skipping 89a extensions
      while (off < b.length && (b(off) & 0xff) == 0x21) {
        off += 2 // extension introducer + label
        var len = { require(off < b.length, "truncated extension"); b(off) & 0xff }
        while (len != 0) {
          off += 1 + len
          require(off < b.length, "truncated extension sub-blocks")
          len = b(off) & 0xff
        }
        off += 1
      }
      require(off + 10 <= b.length && (b(off) & 0xff) == 0x2c,
        "missing image descriptor")
      require(le16(off + 1) == 0 && le16(off + 3) == 0,
        "image offset inside the logical screen unsupported")
      val width = le16(off + 5)
      val height = le16(off + 7)
      require(width > 0 && height > 0 &&
        width.toLong * height * 3 <= Int.MaxValue,
        s"corrupt GIF dimensions ${width}x$height")
      val ipacked = b(off + 9) & 0xff
      val interlaced = (ipacked & 0x40) != 0
      off += 10
      var palTable = palette
      var palSize = tableSize
      if ((ipacked & 0x80) != 0) { // local color table overrides
        palSize = 2 << (ipacked & 7)
        require(off + palSize * 3 <= b.length,
          s"local color table of $palSize entries overruns the buffer")
        palTable = new Array[Byte](palSize * 3)
        System.arraycopy(b, off, palTable, 0, palSize * 3)
        off += palSize * 3
      }
      require(off < b.length, "missing LZW code size")
      val minCode = b(off) & 0xff
      require(minCode >= 2 && minCode <= 8, s"bad LZW code size $minCode")
      off += 1
      val data = new java.io.ByteArrayOutputStream()
      var len = { require(off < b.length, "truncated image data"); b(off) & 0xff }
      while (len != 0) {
        require(off + 1 + len <= b.length, "truncated LZW sub-block")
        data.write(b, off + 1, len)
        off += 1 + len
        require(off < b.length, "missing block terminator")
        len = b(off) & 0xff
      }
      val comp = data.toByteArray

      // --- LZW decompress (GIF variant) ---
      val clear = 1 << minCode
      val eoi = clear + 1
      val nPix = width * height
      val indices = new Array[Byte](nPix)
      var outPos = 0
      // string table as (prefix code, last byte); roots are implicit
      val prefix = new Array[Int](4096)
      val last = new Array[Byte](4096)
      val lenOf = new Array[Int](4096)
      var next = eoi + 1
      var codeWidth = minCode + 1
      var prev = -1
      var bitBuf = 0L
      var bitCnt = 0
      var pos = 0
      def emit(code: Int): Byte = { // write string for code, return first byte
        var c = code
        var n = lenOf(c)
        val end = outPos + n
        require(end <= nPix,
          s"LZW output overruns the ${width}x$height raster")
        var w = end - 1
        while (n > 1) {
          indices(w) = last(c)
          c = prefix(c); w -= 1; n -= 1
        }
        indices(w) = c.toByte // root
        outPos = end
        indices(w)
      }
      var c = 0
      while (c < clear) { lenOf(c) = 1; c += 1 }
      var done = false
      while (!done && outPos < nPix) {
        while (bitCnt < codeWidth && pos < comp.length) {
          bitBuf |= (comp(pos) & 0xffL) << bitCnt
          bitCnt += 8; pos += 1
        }
        require(bitCnt >= codeWidth, "truncated LZW stream")
        val code = (bitBuf & ((1L << codeWidth) - 1)).toInt
        bitBuf >>>= codeWidth
        bitCnt -= codeWidth
        if (code == clear) {
          next = eoi + 1; codeWidth = minCode + 1; prev = -1
        } else if (code == eoi) {
          done = true
        } else if (prev == -1) {
          require(code < clear, s"first code $code after clear not a root")
          emit(code)
          prev = code
        } else {
          require(code < next || (code == next && next < 4096),
            s"LZW code $code beyond table size $next")
          val first =
            if (code < next) emit(code)
            else { // KwKwK: string = prev's string + its own first byte
              val f = emit(prev)
              require(outPos < nPix,
                s"LZW output overruns the ${width}x$height raster")
              indices(outPos) = f; outPos += 1
              f
            }
          if (next < 4096) {
            prefix(next) = prev; last(next) = first
            lenOf(next) = lenOf(prev) + 1
            next += 1
            // the decoder's table is one entry BEHIND the encoder's,
            // so it widens at 2^w where the encoder widens at 2^w+1
            // (the classic GIF off-by-one)
            if (next == (1 << codeWidth) && codeWidth < 12)
              codeWidth += 1
          }
          prev = code
        }
      }
      require(outPos == nPix,
        s"LZW stream yields $outPos of $nPix pixels")
      if (!done) {
        // raster full without having seen EOI: the stream must END
        // here — more data codes mean the descriptor lied about dims
        while (bitCnt < codeWidth && pos < comp.length) {
          bitBuf |= (comp(pos) & 0xffL) << bitCnt
          bitCnt += 8; pos += 1
        }
        if (bitCnt >= codeWidth) {
          val code = (bitBuf & ((1L << codeWidth) - 1)).toInt
          require(code == eoi,
            s"LZW data continues past the ${width}x$height raster")
        }
      }
      // interlaced files store rows in the four-pass order (every 8th
      // from 0, every 8th from 4, every 4th from 2, every 2nd from
      // 1); permute stream rows back to display order
      val display =
        if (!interlaced) indices
        else {
          val out = new Array[Byte](nPix)
          var k = 0
          for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
            var y = start
            while (y < height) {
              System.arraycopy(indices, k * width, out, y * width, width)
              k += 1; y += step
            }
          }
          out
        }
      val rgb = new Array[Byte](nPix * 3)
      var p = 0
      while (p < nPix) {
        val idx = display(p) & 0xff
        require(idx < palSize, s"pixel index $idx outside the palette")
        rgb(p * 3) = palTable(idx * 3)
        rgb(p * 3 + 1) = palTable(idx * 3 + 1)
        rgb(p * 3 + 2) = palTable(idx * 3 + 2)
        p += 1
      }
      DecodedGif(width, height, display, rgb)
    }
  }

  // ---------------------------------------------------------------
  // TIFF (baseline TIFF 6.0) — the FOURTH container architecture in
  // the ladder: an offset-linked tag directory (IFD) instead of a
  // chunk walk (RIFF/PNG), a box tree (MP4), or a fixed header
  // (BMP/WAV). Both byte orders decode; little-endian is written.
  // Truecolor RGB 8/8/8 in strips, Compression 1 (none) or 32773
  // (PackBits — TIFF 6.0 §9, a real RLE entropy coder). The JDK's
  // ImageIO TIFF plugin is the cross-implementation reference.
  // ---------------------------------------------------------------

  /** PackBits-compress one row (TIFF 6.0 §9): control n in 0..127 =
    * n+1 literal bytes follow; control -1..-127 = the next byte
    * repeats 1-n times; -128 is a no-op. Greedy: repeat runs of >= 3
    * are encoded as runs, everything else accumulates literals.
    * Compressed rows never cross row boundaries (the spec's rule for
    * TIFF PackBits). */
  def packBits(row: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    val n = row.length
    while (i < n) {
      // measure the run at i
      var run = 1
      while (i + run < n && run < 128 && row(i + run) == row(i)) run += 1
      if (run >= 3) {
        out.write(1 - run) // -(run-1)
        out.write(row(i))
        i += run
      } else {
        // literal stretch: until the next >=3 run or 128 bytes
        val start = i
        i += run
        var lit = run
        while (i < n && lit < 128) {
          var r2 = 1
          while (i + r2 < n && r2 < 3 && row(i + r2) == row(i)) r2 += 1
          if (r2 >= 3) i = i // stop: a run starts here
          if (r2 >= 3) lit = 128 // break
          else {
            val take = math.min(r2, 128 - lit)
            i += take; lit += take
            if (take < r2) lit = 128
          }
        }
        val len = i - start
        out.write(len - 1)
        out.write(row, start, len)
      }
    }
    out.toByteArray
  }

  /** PackBits-decompress `src` into exactly `expected` bytes —
    * fail-fast on overrun, underrun, or a control byte past the
    * buffer (the external-bytes contract). -128 no-ops are
    * tolerated (the spec permits them). */
  def unpackBits(src: Array[Byte], from: Int, until: Int,
      expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var i = from
    var o = 0
    while (i < until && o < expected) {
      val c = src(i)
      i += 1
      if (c >= 0) {
        val len = c + 1
        require(i + len <= until && o + len <= expected,
          s"PackBits literal overrun at $i")
        System.arraycopy(src, i, out, o, len)
        i += len; o += len
      } else if (c != -128) {
        val len = 1 - c
        require(i < until && o + len <= expected,
          s"PackBits run overrun at $i")
        java.util.Arrays.fill(out, o, o + len, src(i))
        i += 1; o += len
      }
    }
    require(o == expected,
      s"PackBits stream yields $o bytes, expected $expected")
    out
  }

  /** TIFF LZW compress (TIFF 6.0 §13): MSB-first bit packing,
    * variable 9..12-bit codes, Clear=256/EOI=257, and the spec's
    * EARLY CHANGE — the code width bumps one code before the table
    * demands it (the de-facto interop behavior every TIFF
    * reader/writer shares; contrast the GIF pair above, which is
    * LSB-first without early change). One independent stream per
    * strip. */
  def lzwCompress(data: Array[Byte]): Array[Byte] = {
    require(data.nonEmpty, "empty LZW input")
    val Clear = 256; val Eoi = 257
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0; var codeWidth = 9
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << codeWidth) | code
      bitCnt += codeWidth
      while (bitCnt >= 8) {
        out.write(((bitBuf >>> (bitCnt - 8)) & 0xff).toInt)
        bitCnt -= 8
      }
    }
    var dict = new java.util.HashMap[Integer, Integer]()
    var next = 258
    def key(prefix: Int, b: Int): Integer =
      Integer.valueOf((prefix << 8) | b)
    put(Clear)
    var cur = data(0) & 0xff
    var i = 1
    while (i < data.length) {
      val b = data(i) & 0xff
      val k = key(cur, b)
      val hit = dict.get(k)
      if (hit != null) cur = hit.intValue()
      else {
        put(cur)
        dict.put(k, Integer.valueOf(next))
        next += 1
        // EARLY CHANGE: widen when entry (1<<w)-1 is added — one
        // code before the GIF encoder's (1<<w)+1 threshold
        if (next == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        if (next == 4094) { // spec: clear when entry 4094 would follow
          put(Clear)
          dict = new java.util.HashMap[Integer, Integer]()
          next = 258; codeWidth = 9
        }
        cur = b
      }
      i += 1
    }
    put(cur)
    put(Eoi)
    if (bitCnt > 0) // left-align the tail bits in the final byte
      out.write(((bitBuf << (8 - bitCnt)) & 0xff).toInt)
    out.toByteArray
  }

  /** TIFF LZW decompress into exactly `expected` bytes — MSB-first,
    * early change (the decoder's table is one entry behind the
    * encoder's, so it widens at (1<<w)-1 where the encoder widens at
    * 1<<w), fail-fast on overrun/underrun/bad codes. A strip that
    * fills `expected` may end with or without the trailing EOI (both
    * appear in the wild), but further DATA codes fail. */
  def lzwDecompress(src: Array[Byte], from: Int, until: Int,
      expected: Int): Array[Byte] = {
    val Clear = 256; val Eoi = 257
    val outArr = new Array[Byte](expected)
    var outPos = 0
    val prefix = new Array[Int](4096)
    val last = new Array[Byte](4096)
    val lenOf = new Array[Int](4096)
    var c0 = 0
    while (c0 < 256) { lenOf(c0) = 1; c0 += 1 }
    var next = 258; var codeWidth = 9; var prev = -1
    var bitBuf = 0L; var bitCnt = 0; var pos = from
    def emit(code: Int): Byte = {
      var c = code
      var n = lenOf(c)
      val end = outPos + n
      require(end <= expected, "LZW output overruns the strip")
      var w = end - 1
      while (n > 1) {
        outArr(w) = last(c)
        c = prefix(c); w -= 1; n -= 1
      }
      outArr(w) = c.toByte
      outPos = end
      outArr(w)
    }
    var done = false
    while (!done && outPos < expected) {
      while (bitCnt < codeWidth && pos < until) {
        bitBuf = (bitBuf << 8) | (src(pos) & 0xffL)
        bitCnt += 8; pos += 1
      }
      require(bitCnt >= codeWidth, "truncated LZW stream")
      val code =
        ((bitBuf >>> (bitCnt - codeWidth)) & ((1 << codeWidth) - 1)).toInt
      bitCnt -= codeWidth
      if (code == Clear) { next = 258; codeWidth = 9; prev = -1 }
      else if (code == Eoi) done = true
      else if (prev == -1) {
        require(code < 256, s"first code $code after clear not a root")
        emit(code)
        prev = code
      } else {
        require(code < next || (code == next && next < 4096),
          s"LZW code $code beyond table size $next")
        val first =
          if (code < next) emit(code)
          else { // KwKwK
            val f = emit(prev)
            require(outPos < expected, "LZW output overruns the strip")
            outArr(outPos) = f; outPos += 1
            f
          }
        if (next < 4096) {
          prefix(next) = prev; last(next) = first
          lenOf(next) = lenOf(prev) + 1
          next += 1
          if (next == (1 << codeWidth) - 1 && codeWidth < 12)
            codeWidth += 1
        }
        prev = code
      }
    }
    require(outPos == expected,
      s"LZW strip yields $outPos of $expected bytes")
    if (!done) {
      // strip full without EOI: tolerate a clean end, reject more data
      while (bitCnt < codeWidth && pos < until) {
        bitBuf = (bitBuf << 8) | (src(pos) & 0xffL)
        bitCnt += 8; pos += 1
      }
      if (bitCnt >= codeWidth) {
        val code =
          ((bitBuf >>> (bitCnt - codeWidth)) & ((1 << codeWidth) - 1)).toInt
        require(code == Eoi, "LZW data continues past the strip")
      }
    }
    outArr
  }

  /** Rows per strip written by [[tiffEncode]] — small enough that
    * every in-repo raster exercises MULTIPLE strips. */
  val TiffRowsPerStrip = 4

  /** Encode a top-down RGB raster as a baseline little-endian TIFF:
    * 8-byte header -> strip data ([[TiffRowsPerStrip]] rows each,
    * optionally PackBits-compressed per row) -> BitsPerSample +
    * strip-table arrays -> one IFD with the ten baseline-RGB tags in
    * ascending order. */
  def tiffEncode(width: Int, height: Int, rgb: Array[Byte],
      packbits: Boolean): Array[Byte] =
    tiffEncodeComp(width, height, rgb, if (packbits) 32773 else 1)

  /** [[tiffEncode]] with LZW strips (compression 5) — each strip an
    * independent [[lzwCompress]] stream over its rows. With
    * `predictor2`, rows are horizontally differenced per channel
    * before compression and the file carries Predictor(317)=2
    * (TIFF 6.0 §14 — the combination foreign LZW TIFFs commonly
    * ship; smooth content compresses markedly better). */
  def tiffEncodeLzw(width: Int, height: Int, rgb: Array[Byte],
      predictor2: Boolean = false): Array[Byte] =
    tiffEncodeComp(width, height, rgb, 5, predictor2)

  private def tiffEncodeComp(width: Int, height: Int, rgb: Array[Byte],
      compression: Int, predictor2: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && rgb.length == width * height * 3,
      s"raster length ${rgb.length} != $width x $height x 3")
    require(!predictor2 || compression == 5,
      "predictor 2 is only written with LZW strips")
    val rowLen = width * 3
    val src =
      if (!predictor2) rgb
      else {
        val d = rgb.clone()
        var y = 0
        while (y < height) {
          val base = y * rowLen
          var x = rowLen - 1
          while (x >= 3) {
            d(base + x) = (d(base + x) - rgb(base + x - 3)).toByte
            x -= 1
          }
          y += 1
        }
        d
      }
    val nStrips = (height + TiffRowsPerStrip - 1) / TiffRowsPerStrip
    val strips = (0 until nStrips).map { st =>
      val y0 = st * TiffRowsPerStrip
      val y1 = math.min(y0 + TiffRowsPerStrip, height)
      if (compression == 1)
        java.util.Arrays.copyOfRange(src, y0 * rowLen, y1 * rowLen)
      else if (compression == 5)
        lzwCompress(
          java.util.Arrays.copyOfRange(src, y0 * rowLen, y1 * rowLen))
      else {
        val bos = new java.io.ByteArrayOutputStream()
        var y = y0
        while (y < y1) {
          val row = java.util.Arrays.copyOfRange(rgb, y * rowLen,
            (y + 1) * rowLen)
          bos.write(packBits(row))
          y += 1
        }
        bos.toByteArray
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Int): Unit = { w16(v & 0xffff); w16((v >>> 16) & 0xffff) }
    // header: II, 42, IFD offset (filled after layout is known)
    val stripOff = new Array[Int](nStrips)
    var off = 8
    for (st <- 0 until nStrips) { stripOff(st) = off; off += strips(st).length }
    val bpsOff = off // 3 SHORTs
    off += 6
    val soOff = off // strip offsets array (if n > 1)
    if (nStrips > 1) off += 4 * nStrips
    val sbcOff = off // strip byte counts array (if n > 1)
    if (nStrips > 1) off += 4 * nStrips
    val ifdOff = off
    out.write('I'); out.write('I'); w16(42); w32(ifdOff)
    strips.foreach(s => out.write(s))
    w16(8); w16(8); w16(8) // BitsPerSample values
    if (nStrips > 1) {
      stripOff.foreach(w32)
      strips.foreach(s => w32(s.length))
    }
    // IFD: 10 entries, ascending tag order
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      w16(tag); w16(tpe); w32(count)
      if (tpe == 3 && count == 1) { w16(value); w16(0) } // SHORT inline
      else w32(value)
    }
    w16(if (predictor2) 11 else 10)
    entry(256, 4, 1, width) // ImageWidth LONG
    entry(257, 4, 1, height) // ImageLength LONG
    entry(258, 3, 3, bpsOff) // BitsPerSample SHORT[3] at offset
    entry(259, 3, 1, compression) // Compression
    entry(262, 3, 1, 2) // Photometric: RGB
    entry(273, 4, nStrips, if (nStrips == 1) stripOff(0) else soOff)
    entry(277, 3, 1, 3) // SamplesPerPixel
    entry(278, 4, 1, TiffRowsPerStrip)
    entry(279, 4, nStrips,
      if (nStrips == 1) strips(0).length else sbcOff)
    entry(284, 3, 1, 1) // PlanarConfiguration: chunky
    if (predictor2) entry(317, 3, 1, 2) // Predictor: horizontal diff
    w32(0) // no next IFD
    out.toByteArray
  }

  /** The real decoder: validates the byte-order magic (both orders),
    * walks the IFD validating every entry offset, requires the
    * baseline-RGB shape (8/8/8, photometric 2, chunky, compression
    * none/PackBits/LZW, predictor none or horizontal differencing),
    * reads each strip through its offset/count
    * pair, and assembles the top-down RGB raster. Unknown tags are
    * skipped (ancillary metadata); anything outside the supported
    * shape fails fast with IllegalArgumentException. */
  final class TiffDecoder extends ImageDecoder {
    def decode(b: Array[Byte]): DecodedImage = {
      require(b.length >= 8, "too short for a TIFF")
      val le =
        if (b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) true
        else if (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)
          false
        else throw new IllegalArgumentException("not a TIFF")
      def u16(off: Int): Int = {
        require(off >= 0 && off + 2 <= b.length, s"u16 past buffer at $off")
        if (le) (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
        else ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      }
      def u32(off: Int): Long = {
        require(off >= 0 && off + 4 <= b.length, s"u32 past buffer at $off")
        if (le) (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
          ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
        else ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
          ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
      }
      val ifd = u32(4)
      require(ifd >= 8 && ifd + 2 <= b.length, s"bad IFD offset $ifd")
      val nEntries = u16(ifd.toInt)
      require(ifd + 2 + nEntries * 12L + 4 <= b.length,
        s"IFD of $nEntries entries past buffer")
      // one integral value from an entry (SHORT or LONG, count 1)
      def scalar(off: Int, tpe: Int): Long = tpe match {
        case 3 => u16(off)
        case 4 => u32(off)
        case t =>
          throw new IllegalArgumentException(s"unsupported tag type $t")
      }
      // a vector of count integral values (inline when they fit); the
      // values must lie inside the buffer before any is allocated
      def vector(entryOff: Int, tpe: Int, count: Int): Array[Long] = {
        val step = if (tpe == 3) 2 else 4
        val size = step.toLong * count
        val base = if (size <= 4) entryOff + 8L else u32(entryOff + 8)
        require(base + size <= b.length,
          s"$count tag values past buffer at $base")
        Array.tabulate(count)(i => scalar(base.toInt + i * step, tpe))
      }
      var width = 0L; var height = 0L
      var compression = 1L; var photometric = -1L
      var spp = 1L; var rps = Long.MaxValue; var planar = 1L
      var predictor = 1L
      var bps: Array[Long] = Array(1L)
      var stripOffs: Array[Long] = null
      var stripLens: Array[Long] = null
      var i = 0
      while (i < nEntries) {
        val e = (ifd + 2 + i * 12).toInt
        val tag = u16(e); val tpe = u16(e + 2)
        val count = u32(e + 4)
        require(count >= 0 && count <= Int.MaxValue, s"bad count $count")
        tag match {
          case 256 => width = scalar(e + 8, tpe)
          case 257 => height = scalar(e + 8, tpe)
          case 258 => bps = vector(e, tpe, count.toInt)
          case 259 => compression = scalar(e + 8, tpe)
          case 262 => photometric = scalar(e + 8, tpe)
          case 273 => stripOffs = vector(e, tpe, count.toInt)
          case 277 => spp = scalar(e + 8, tpe)
          case 278 => rps = scalar(e + 8, tpe)
          case 279 => stripLens = vector(e, tpe, count.toInt)
          case 284 => planar = scalar(e + 8, tpe)
          case 317 => predictor = scalar(e + 8, tpe)
          case _ => () // ancillary tag: skipped
        }
        i += 1
      }
      // bound each u32-range dimension BEFORE forming the product:
      // width and height can each be up to 2^32-1 here, so the naive
      // width*height*3 Long product could wrap past 2^63 and pass the
      // check; with both < 2^24 the product is below 2^50
      require(width > 0 && height > 0 &&
        width < (1L << 24) && height < (1L << 24) &&
        width * height * 3 <= Int.MaxValue,
        s"corrupt TIFF dimensions ${width}x$height")
      require(photometric == 2, s"only RGB photometric (got $photometric)")
      require(spp == 3, s"only 3 samples/pixel (got $spp)")
      require(bps.length == 3 && bps.forall(_ == 8),
        s"only 8/8/8 bits (got ${bps.mkString(",")})")
      require(planar == 1, "only chunky planar configuration")
      require(compression == 1 || compression == 32773 ||
        compression == 5,
        s"only none/PackBits/LZW compression (got $compression)")
      require(predictor == 1 || predictor == 2,
        s"only none/horizontal predictor (got $predictor)")
      require(stripOffs != null && stripLens != null &&
        stripOffs.length == stripLens.length, "missing strip tables")
      require(rps > 0, "bad RowsPerStrip")
      val w = width.toInt; val h = height.toInt
      val rowLen = w * 3
      val rpsEff = math.min(rps, height)
      val expStrips = ((height + rpsEff - 1) / rpsEff).toInt
      require(stripOffs.length == expStrips,
        s"${stripOffs.length} strips, expected $expStrips")
      val rgb = new Array[Byte](h * rowLen)
      var st = 0
      var y0 = 0
      while (st < stripOffs.length) {
        val rows = math.min(rps, (h - y0).toLong).toInt
        val expected = rows * rowLen
        val so = stripOffs(st); val sl = stripLens(st)
        require(so >= 0 && sl >= 0 && so + sl <= b.length,
          s"strip $st ($so+$sl) past buffer")
        if (compression == 1) {
          require(sl == expected,
            s"strip $st holds $sl bytes, expected $expected")
          System.arraycopy(b, so.toInt, rgb, y0 * rowLen, expected)
        } else if (compression == 5) {
          val u = lzwDecompress(b, so.toInt, (so + sl).toInt, expected)
          System.arraycopy(u, 0, rgb, y0 * rowLen, expected)
        } else {
          val u = unpackBits(b, so.toInt, (so + sl).toInt, expected)
          System.arraycopy(u, 0, rgb, y0 * rowLen, expected)
        }
        y0 += rows
        st += 1
      }
      require(y0 == h, s"strips cover $y0 rows of $h")
      if (predictor == 2) {
        // horizontal differencing (TIFF 6.0 §14): per row, each
        // sample stores the delta to the previous pixel's sample
        var y = 0
        while (y < h) {
          val base = y * rowLen
          var x = 3
          while (x < rowLen) {
            rgb(base + x) = (rgb(base + x) + rgb(base + x - 3)).toByte
            x += 1
          }
          y += 1
        }
      }
      DecodedImage(w, h, rgb)
    }
  }
}
