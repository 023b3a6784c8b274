package graft.pipeline

/** Sample/pixel-level media decoding, pure JVM — retires the declared
  * codec stubs (VERDICT r6 #6, r7 #6) for the three containers whose
  * coding layer is JVM-feasible: PNG's DEFLATE (java.util.zip.Inflater),
  * WAV's uncompressed PCM, and GIF's LZW (hand-decoded below — variable
  * width codes, clear/EOI, KwKwK). JPEG stays header-only: its coding
  * layer (DCT + huffman/arithmetic entropy coding + chroma resampling)
  * is a genuine codec, declared permanently out in SURVEY §2.
  *
  * Clean-room from the public specs:
  *  - PNG: RFC 2083 / W3C PNG spec — chunk framing + CRC32, IHDR,
  *    IDAT concatenation, zlib inflate, per-scanline de-filtering
  *    (None/Sub/Up/Average/Paeth, spec §6); supports 8-bit depth,
  *    grayscale (type 0) and truecolor (type 2), non-interlaced.
  *  - WAV: RIFF/WAVE with PCM `fmt ` (format tag 1), 8-bit unsigned or
  *    16-bit signed little-endian samples.
  *  - GIF: GIF89a spec — logical screen descriptor, global/local color
  *    tables, extension-block skip, first image descriptor,
  *    LSB-first variable-width LZW over the data sub-blocks; samples
  *    are the decoded palette INDICES (for a grayscale identity
  *    palette, index == luminance). Non-interlaced only.
  */
object MediaSamples {

  final case class Decoded(format: String, samples: Array[Int])

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def beU32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)

  /** Decode to a flat sample array: PNG → channel bytes in scanline
    * order (grayscale: one per pixel), WAV → PCM sample values
    * (channel-interleaved). Returns null on unsupported/corrupt input
    * (mirrors the header decoder's unknown-format contract). */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null) null
    else if (b.length >= 8 && u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G') decodePng(b)
    else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V') decodeWav(b)
    else if (b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8') decodeGif(b)
    else null
  }

  /** PNG spec §6 Paeth predictor. */
  private def paeth(a: Int, bb: Int, c: Int): Int = {
    val p = a + bb - c
    val pa = math.abs(p - a); val pb = math.abs(p - bb); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) bb else c
  }

  def decodePng(b: Array[Byte]): Decoded = {
    var i = 8
    var w = 0; var h = 0; var depth = 0; var colorType = 0; var interlace = 0
    val idat = new java.io.ByteArrayOutputStream
    var sawIhdr = false
    while (i + 8 <= b.length) {
      val len = beU32(b, i).toInt
      if (len < 0 || i + 12 + len > b.length) return null
      val tag = new String(b, i + 4, 4, "US-ASCII")
      // chunk CRC covers tag + payload (spec §5.3)
      val crc = new java.util.zip.CRC32
      crc.update(b, i + 4, 4 + len)
      if (crc.getValue != beU32(b, i + 8 + len)) return null
      tag match {
        case "IHDR" =>
          if (len < 13) return null
          w = beU32(b, i + 8).toInt; h = beU32(b, i + 12).toInt
          depth = u8(b, i + 16); colorType = u8(b, i + 17)
          interlace = u8(b, i + 20)
          sawIhdr = true
        case "IDAT" => idat.write(b, i + 8, len)
        case _ => ()
      }
      i += 12 + len
    }
    if (!sawIhdr || depth != 8 || interlace != 0 ||
      (colorType != 0 && colorType != 2)) return null
    val bpp = if (colorType == 0) 1 else 3
    val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    val inf = new java.util.zip.Inflater
    inf.setInput(idat.toByteArray)
    var off = 0
    try {
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && inf.needsInput()) return null // truncated stream
        off += n
      }
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally inf.end()
    if (off != raw.length) return null
    // de-filter in place into the output sample array (spec §6.2):
    // Recon(x) = Filt(x) + predictor over left/up/up-left RECON bytes
    val out = new Array[Int](stride * h)
    var y = 0
    while (y < h) {
      val filter = raw((stride + 1) * y) & 0xFF
      val rowIn = (stride + 1) * y + 1
      val rowOut = stride * y
      var x = 0
      while (x < stride) {
        val filt = raw(rowIn + x) & 0xFF
        val left = if (x >= bpp) out(rowOut + x - bpp) else 0
        val up = if (y > 0) out(rowOut - stride + x) else 0
        val upLeft = if (y > 0 && x >= bpp) out(rowOut - stride + x - bpp) else 0
        val recon = filter match {
          case 0 => filt
          case 1 => filt + left
          case 2 => filt + up
          case 3 => filt + ((left + up) >> 1)
          case 4 => filt + paeth(left, up, upLeft)
          case _ => return null
        }
        out(rowOut + x) = recon & 0xFF
        x += 1
      }
      y += 1
    }
    Decoded("png", out)
  }

  /** GIF89a §§18-24: walk the stream to the FIRST image descriptor and
    * LZW-decode its pixel indices. Interlaced images and streams whose
    * index data overruns w·h return null (corrupt-input contract). */
  def decodeGif(b: Array[Byte]): Decoded = {
    val frames = decodeGifFrames(b, maxFrames = 1)
    if (frames == null || frames.isEmpty) null
    else Decoded("gif", frames(0))
  }

  /** All frames of an (animated) GIF: the same walk as [[decodeGif]]
    * continued past the first image descriptor — each frame's indices
    * LZW-decode independently (every descriptor carries its own
    * min-code-size + sub-blocks). Returns null on the same corrupt
    * inputs; `maxFrames` bounds the walk (a video fingerprint samples
    * a bounded prefix). */
  def decodeGifFrames(b: Array[Byte],
      maxFrames: Int = Int.MaxValue): Array[Array[Int]] = {
    if (b.length < 13) return null
    val packed = u8(b, 10)
    var i = 13
    if ((packed & 0x80) != 0) i += 3 * (1 << ((packed & 7) + 1)) // GCT
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    while (i < b.length && frames.length < maxFrames) {
      u8(b, i) match {
        case 0x3B => // trailer
          return if (frames.isEmpty) null else frames.toArray
        case 0x21 => // extension: label + sub-blocks until terminator
          i += 2
          while (i < b.length && u8(b, i) != 0) i += 1 + u8(b, i)
          i += 1
        case 0x2C =>
          if (i + 10 > b.length) return null
          val iw = leU16(b, i + 5); val ih = leU16(b, i + 7)
          val ipacked = u8(b, i + 9)
          if ((ipacked & 0x40) != 0) return null // interlaced
          i += 10
          if ((ipacked & 0x80) != 0) i += 3 * (1 << ((ipacked & 7) + 1)) // LCT
          if (i >= b.length) return null
          val minCodeSize = u8(b, i)
          i += 1
          // concatenate the data sub-blocks
          val data = new java.io.ByteArrayOutputStream
          while (i < b.length && u8(b, i) != 0) {
            val n = u8(b, i)
            if (i + 1 + n > b.length) return null
            data.write(b, i + 1, n)
            i += 1 + n
          }
          i += 1 // block terminator
          val nPix = iw * ih
          if (nPix <= 0) return null
          val out = lzwDecode(data.toByteArray, minCodeSize, nPix)
          if (out == null) return null
          frames += out
        case _ => return null
      }
    }
    if (frames.isEmpty) null else frames.toArray
  }

  /** GIF LZW (spec appendix F): LSB-first bit stream, initial code
    * width `minCodeSize`+1, CLEAR resets the table, EOI ends, the
    * table grows by prev-string + first-byte per decoded code (KwKwK
    * when the code IS the next free slot), code width widens when the
    * next free slot reaches 2^width, capped at 12 bits (4096 codes —
    * a full table keeps decoding without adding). */
  private def lzwDecode(data: Array[Byte], minCodeSize: Int,
      maxPixels: Int): Array[Int] = {
    if (minCodeSize < 1 || minCodeSize > 11) return null
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Int](maxPixels)
    var outLen = 0
    var next = eoi + 1
    var width = minCodeSize + 1
    var prev = -1
    // LSB-first bit reader with a 64-bit accumulator: refill whole
    // bytes, then mask `width` bits — replaces the original
    // bit-at-a-time loop (~width dependent shifts per code), the
    // dominant cost of every GIF/video decode pass (measured via
    // a per-clip micro-bench, OPTIMIZATION_r15.md).
    var acc = 0L
    var accBits = 0
    var bytePos = 0
    def readCode(): Int = {
      while (accBits < width) {
        if (bytePos >= data.length) return -1
        acc |= (data(bytePos) & 0xFFL) << accBits
        bytePos += 1
        accBits += 8
      }
      val v = (acc & ((1L << width) - 1)).toInt
      acc >>>= width
      accBits -= width
      v
    }
    /** Emit the string for `code`; returns its FIRST byte (0..255), or
      * -1 on output overrun (= corrupt input). One chain walk serves
      * both the emit and the table entry's suffix byte — the original
      * firstByteOf + emitString pair walked the chain twice. */
    def emitString(code: Int): Int = {
      var sp = 0
      var c = code
      while (c >= clear) { stack(sp) = suffix(c); sp += 1; c = prefix(c) }
      stack(sp) = c.toByte; sp += 1
      if (outLen + sp > maxPixels) return -1 // overrun = corrupt
      val first = c & 0xFF
      while (sp > 0) { sp -= 1; out(outLen) = stack(sp) & 0xFF; outLen += 1 }
      first
    }
    var done = false
    while (!done) {
      val code = readCode()
      if (code < 0) done = true // truncated stream: keep what decoded
      else if (code == clear) {
        next = eoi + 1; width = minCodeSize + 1; prev = -1
      } else if (code == eoi) done = true
      else if (prev == -1) {
        if (code >= clear) return null
        if (emitString(code) < 0) return null
        prev = code
      } else {
        val kwkwk = code == next
        if (code > next || (kwkwk && next >= 4096)) return null
        val f =
          if (kwkwk) {
            val fb = emitString(prev)
            if (fb < 0) return null
            if (outLen + 1 > maxPixels) return null
            out(outLen) = fb; outLen += 1
            fb
          } else {
            val fb = emitString(code)
            if (fb < 0) return null
            fb
          }
        if (next < 4096) {
          prefix(next) = prev; suffix(next) = f.toByte; next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
      }
      if (outLen == maxPixels) done = true
    }
    java.util.Arrays.copyOf(out, outLen)
  }

  def decodeWav(b: Array[Byte]): Decoded = {
    var i = 12
    var bits = 0; var fmtTag = 0
    var samples: Array[Int] = null
    while (i + 8 <= b.length) {
      val tag = new String(b, i, 4, "US-ASCII")
      val len = leU32(b, i + 4).toInt
      if (len < 0 || i + 8 + len > b.length) return null
      tag match {
        case "fmt " =>
          if (len < 16) return null
          fmtTag = leU16(b, i + 8)
          bits = leU16(b, i + 22)
        case "data" =>
          if (fmtTag != 1) return null // PCM only
          bits match {
            case 8 =>
              samples = Array.tabulate(len)(k => u8(b, i + 8 + k))
            case 16 =>
              samples = Array.tabulate(len / 2) { k =>
                (leU16(b, i + 8 + 2 * k) << 16) >> 16 // sign-extend
              }
            case _ => return null
          }
        case _ => ()
      }
      i += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    if (samples == null) null else Decoded("wav", samples)
  }
}
