package graft.pipeline

/** Pure-JVM media container header decoders — the real (non-stub) part
  * of the multimodal decode path. The container has no native codecs,
  * so pixel/sample decoding stays out of scope, but container METADATA
  * (dimensions, sample rate, channel count) needs none: it is parsed
  * directly from the header bytes per the public specs —
  *  - PNG: W3C PNG spec §11.2.2 (IHDR is the first chunk: width/height
  *    as big-endian u32 at offsets 16/20),
  *  - JPEG: ITU T.81 §B.2.2 (scan the marker stream to the first SOFn
  *    frame header; height/width as big-endian u16 in its payload),
  *  - GIF: GIF89a spec §18 (logical screen width/height, little-endian
  *    u16 at offsets 6/8),
  *  - WAV: RIFF/WAVE — walk chunks to "fmt " (channels, sample rate,
  *    bits per sample, little-endian).
  *
  * Decoding is total: malformed or truncated bytes yield format
  * "unknown" with -1 fields, never an exception (a poison payload must
  * not kill a 100 TB scan).
  */
object MediaHeaders {

  /** Parsed container metadata. Image fields are -1 for audio and vice
    * versa; everything is -1 for "unknown". `duration_ms` is -1 except
    * for timed containers (mp4). */
  final case class MediaInfo(format: String, width: Int, height: Int,
      sample_rate: Int, channels: Int, bits_per_sample: Int,
      duration_ms: Long = -1L)

  private val Unknown = MediaInfo("unknown", -1, -1, -1, -1, -1)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def beU16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def beU32(b: Array[Byte], i: Int): Long =
    (beU16(b, i).toLong << 16) | beU16(b, i + 2)
  private def leU16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def leU32(b: Array[Byte], i: Int): Long =
    leU16(b, i).toLong | (leU16(b, i + 2).toLong << 16)

  def decode(b: Array[Byte]): MediaInfo = {
    if (b == null || b.length < 12) return Unknown
    try {
      if (u8(b, 0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
          u8(b, 4) == 0x0D && u8(b, 5) == 0x0A && u8(b, 6) == 0x1A && u8(b, 7) == 0x0A)
        png(b)
      else if (u8(b, 0) == 0xFF && u8(b, 1) == 0xD8) jpeg(b)
      else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        MediaInfo("gif", leU16(b, 6), leU16(b, 8), -1, -1, -1)
      else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
        wav(b)
      else if (b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')
        mp4(b)
      else Unknown
    } catch { case _: ArrayIndexOutOfBoundsException => Unknown }
  }

  /** MP4 / ISO-BMFF (ISO 14496-12): size-prefixed box walk. The video
    * column's container metadata: mvhd carries timescale + duration
    * (duration_ms = duration * 1000 / timescale), the first tkhd
    * carries the 16.16 fixed-point presentation width/height. Only
    * version-0 boxes (32-bit times) are decoded — version 1 (64-bit)
    * falls through with fields -1 rather than misreading offsets. */
  private def mp4(b: Array[Byte]): MediaInfo = {
    var w = -1; var h = -1
    var timescale = -1L; var duration = -1L
    def walk(from: Int, to: Int, depth: Int): Unit = {
      var i = from
      while (i + 8 <= to) {
        val size = beU32(b, i)
        if (size < 8 || i + size > to) return // malformed/64-bit size: stop
        val tag = new String(b, i + 4, 4, "US-ASCII")
        tag match {
          case "moov" | "trak" if depth < 3 =>
            walk(i + 8, i + size.toInt, depth + 1)
          case "mvhd" if u8(b, i + 8) == 0 && size >= 28 =>
            timescale = beU32(b, i + 20)
            duration = beU32(b, i + 24)
          case "tkhd" if u8(b, i + 8) == 0 && size >= 92 && w < 0 =>
            w = (beU32(b, i + 84) >> 16).toInt // 16.16 fixed point
            h = (beU32(b, i + 88) >> 16).toInt
          case _ => ()
        }
        i += size.toInt
      }
    }
    walk(0, b.length, 0)
    val durMs = if (timescale > 0 && duration >= 0)
      duration * 1000L / timescale else -1L
    if (timescale < 0 && w < 0) Unknown
    else MediaInfo("mp4", w, h, timescale.toInt, -1, -1, durMs)
  }

  private def png(b: Array[Byte]): MediaInfo = {
    // first chunk MUST be IHDR (length 13): width u32, height u32 follow
    if (b.length < 24 || beU32(b, 8) != 13L ||
        !(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')) return Unknown
    val w = beU32(b, 16)
    val h = beU32(b, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) Unknown
    else MediaInfo("png", w.toInt, h.toInt, -1, -1, -1)
  }

  private def jpeg(b: Array[Byte]): MediaInfo = {
    // marker scan: FF xx [len_hi len_lo payload...]; SOFn (C0..CF except
    // C4 DHT / C8 JPG / CC DAC) carries precision u8, height u16, width u16
    var i = 2
    while (i + 3 < b.length) {
      if (u8(b, i) != 0xFF) return Unknown
      val marker = u8(b, i + 1)
      if (marker == 0xFF) { i += 1 } // fill byte
      else if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7) || marker == 0x01) {
        i += 2 // standalone markers, no length
      } else if (marker == 0xD9 || marker == 0xDA) {
        return Unknown // EOI / SOS before any SOF: no frame header
      } else {
        val len = beU16(b, i + 2)
        if (len < 2) return Unknown
        if (marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          if (i + 9 >= b.length) return Unknown
          val h = beU16(b, i + 5)
          val w = beU16(b, i + 7)
          return if (w > 0 && h > 0) MediaInfo("jpeg", w, h, -1, -1, -1) else Unknown
        }
        i += 2 + len
      }
    }
    Unknown
  }

  private def wav(b: Array[Byte]): MediaInfo = {
    // RIFF chunk walk from offset 12: [id u32][size u32 LE][payload],
    // payloads padded to even length; "fmt " holds the format fields
    var i = 12
    while (i + 8 <= b.length) {
      val size = leU32(b, i + 4)
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || i + 8 + 16 > b.length) return Unknown
        val channels = leU16(b, i + 10)
        val rate = leU32(b, i + 12)
        val bps = leU16(b, i + 22)
        return if (channels > 0 && rate > 0 && rate <= Int.MaxValue)
          MediaInfo("wav", -1, -1, rate.toInt, channels, bps)
        else Unknown
      }
      i += 8 + size.toInt + (size.toInt & 1)
      if (size > Int.MaxValue - 16) return Unknown
    }
    Unknown
  }
}

/** Spec-built container fixtures: REAL headers (correct magics, chunk
  * layout, CRCs, deflate streams) around minimal payloads — the same
  * build-from-the-spec approach as MmdbSpec's byte-by-byte .mmdb files.
  * Used by tests and by the multimodal fixture queries, where an
  * external oracle recomputes the ground-truth metadata independently
  * and the decoder must recover it from the bytes alone. */
object MediaFixtures {

  private def beU32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def beU16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def leU32(v: Long): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def leU16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)

  private def pngChunk(tag: String, payload: Array[Byte]): Array[Byte] = {
    val crc = new java.util.zip.CRC32
    val tb = tag.getBytes("US-ASCII")
    crc.update(tb); crc.update(payload)
    beU32(payload.length.toLong) ++ tb ++ payload ++ beU32(crc.getValue)
  }

  /** Minimal grayscale PNG: signature, IHDR, zero-filled IDAT (real
    * zlib deflate; scanline payload capped at 4 rows to keep fixtures
    * tiny — header metadata is what the decoder reads), IEND. */
  def png(width: Int, height: Int): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val ihdr = beU32(width.toLong) ++ beU32(height.toLong) ++
      Array[Byte](8, 0, 0, 0, 0) // bit depth 8, grayscale, deflate, none, none
    // raw image data: height rows of (filter byte + width zero samples)
    val raw = new Array[Byte]((width + 1) * math.min(height, 4)) // cap payload size
    val bos = new java.io.ByteArrayOutputStream
    val dos = new java.util.zip.DeflaterOutputStream(bos)
    dos.write(raw); dos.close()
    sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", bos.toByteArray) ++
      pngChunk("IEND", Array.empty[Byte])
  }

  /** Minimal JPEG marker stream: SOI, JFIF APP0, DQT, baseline SOF0
    * (1 grayscale component), DHT-free SOS stub, EOI. */
  def jpeg(width: Int, height: Int): Array[Byte] = {
    val soi = Array(0xFF, 0xD8).map(_.toByte)
    val app0payload = "JFIF".getBytes("US-ASCII") ++
      Array[Byte](0, 1, 1, 0) ++ beU16(1) ++ beU16(1) ++ Array[Byte](0, 0)
    val app0 = Array(0xFF, 0xE0).map(_.toByte) ++
      beU16(app0payload.length + 2) ++ app0payload
    val dqtPayload = Array[Byte](0) ++ Array.fill[Byte](64)(16)
    val dqt = Array(0xFF, 0xDB).map(_.toByte) ++ beU16(dqtPayload.length + 2) ++ dqtPayload
    val sofPayload = Array[Byte](8) ++ beU16(height) ++ beU16(width) ++
      Array[Byte](1, 1, 0x11, 0)
    val sof0 = Array(0xFF, 0xC0).map(_.toByte) ++ beU16(sofPayload.length + 2) ++ sofPayload
    val eoi = Array(0xFF, 0xD9).map(_.toByte)
    soi ++ app0 ++ dqt ++ sof0 ++ eoi
  }

  /** Minimal ISO-BMFF mp4: ftyp + moov{mvhd(v0 timescale/duration),
    * trak{tkhd(v0, 16.16 width/height)}} (ISO 14496-12 box layout). */
  def mp4(width: Int, height: Int, timescale: Long,
      duration: Long): Array[Byte] = {
    def box(tag: String, payload: Array[Byte]): Array[Byte] =
      beU32(payload.length + 8L) ++ tag.getBytes("US-ASCII") ++ payload
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ beU32(0) ++ "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ // version 0 + flags
      beU32(0) ++ beU32(0) ++ // ctime mtime
      beU32(timescale) ++ beU32(duration) ++
      beU32(0x00010000L) ++ beU16(0x0100) ++ new Array[Byte](10) ++ // rate vol rsvd
      new Array[Byte](36) ++ new Array[Byte](24) ++ beU32(2)) // matrix predef next
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ // version 0 + flags
      beU32(0) ++ beU32(0) ++ beU32(1) ++ beU32(0) ++ // ctime mtime id rsvd
      beU32(duration) ++ new Array[Byte](8) ++ // duration rsvd
      beU16(0) ++ beU16(0) ++ beU16(0) ++ beU16(0) ++ // layer group vol rsvd
      new Array[Byte](36) ++ // matrix
      beU32(width.toLong << 16) ++ beU32(height.toLong << 16))
    ftyp ++ box("moov", mvhd ++ box("trak", tkhd))
  }

  /** Minimal GIF89a: header + logical screen descriptor + trailer. */
  def gif(width: Int, height: Int): Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ leU16(width) ++ leU16(height) ++
      Array[Byte](0, 0, 0) ++ Array(0x3B.toByte)

  /** GIF89a with REAL pixel content: 256-entry grayscale identity
    * global color table (index i → (i,i,i), so index == luminance),
    * full-screen non-interlaced image, pixel indices LZW-encoded with
    * literal codes while tracking the decoder's table growth — the
    * code width widens 9→12 bits exactly when a decoder's next free
    * slot crosses each power of two, and stays at 12 once the table
    * fills (spec appendix F). Any w·h > ~3800 therefore exercises
    * every width plus the full-table steady state in
    * [[MediaSamples.decodeGif]]. */
  def gifPixels(width: Int, height: Int,
      pixel: (Int, Int) => Int): Array[Byte] = {
    val header = "GIF89a".getBytes("US-ASCII") ++ leU16(width) ++ leU16(height) ++
      Array((0x80 | 7).toByte, 0.toByte, 0.toByte) // GCT, 2^8 entries
    val gct = Array.tabulate(256 * 3)(i => (i / 3).toByte)
    header ++ gct ++ gifFrame(width, height, pixel) ++ Array(0x3B.toByte)
  }

  /** Animated GIF89a with `nFrames` full-screen frames — the same
    * grayscale-identity GCT and LZW encode as [[gifPixels]], one image
    * descriptor per frame (`pixel(frame, x, y)`). The multi-frame
    * container for [[MediaSamples.decodeGifFrames]] / video
    * fingerprinting. */
  def gifFrames(width: Int, height: Int, nFrames: Int,
      pixel: (Int, Int, Int) => Int): Array[Byte] = {
    val header = "GIF89a".getBytes("US-ASCII") ++ leU16(width) ++ leU16(height) ++
      Array((0x80 | 7).toByte, 0.toByte, 0.toByte)
    val gct = Array.tabulate(256 * 3)(i => (i / 3).toByte)
    header ++ gct ++
      (0 until nFrames).toArray.flatMap(f =>
        gifFrame(width, height, (x, y) => pixel(f, x, y))) ++
      Array(0x3B.toByte)
  }

  /** One image-descriptor + LZW-encoded frame block (shared by
    * [[gifPixels]]/[[gifFrames]]). */
  private def gifFrame(width: Int, height: Int,
      pixel: (Int, Int) => Int): Array[Byte] = {
    val imgDesc = Array(0x2C.toByte) ++ leU16(0) ++ leU16(0) ++
      leU16(width) ++ leU16(height) ++ Array(0.toByte)
    val minCodeSize = 8
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    // bit stream into a preallocated buffer (every code is <= 12 bits,
    // codes = clear + w*h pixels + eoi) — the ByteArrayOutputStream +
    // per-pixel Range-closure original was a measured hot spot of every
    // video/GIF fixture build (OPTIMIZATION_r15.md, r15)
    val lzw = new Array[Byte]((width * height + 2) * 12 / 8 + 2)
    var lzwLen = 0
    var cur = 0L; var nbits = 0; var cw = minCodeSize + 1
    def emit(code: Int): Unit = {
      cur |= code.toLong << nbits; nbits += cw
      while (nbits >= 8) {
        lzw(lzwLen) = (cur & 0xFF).toByte; lzwLen += 1
        cur >>= 8; nbits -= 8
      }
    }
    emit(clear)
    var next = eoi + 1
    var first = true
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        emit(pixel(x, y) & 0xFF)
        // mirror the decoder: every code after the first adds one table
        // entry; width widens with the table, capped at 12
        if (first) first = false
        else if (next < 4096) {
          next += 1
          if (next == (1 << cw) && cw < 12) cw += 1
        }
        x += 1
      }
      y += 1
    }
    emit(eoi)
    if (nbits > 0) { lzw(lzwLen) = (cur & 0xFF).toByte; lzwLen += 1 }
    // sub-block framing: minCodeSize byte + ceil(len/255) length bytes
    // + terminator
    val out = new Array[Byte](imgDesc.length + 1 + lzwLen +
      (lzwLen + 254) / 255 + 1)
    System.arraycopy(imgDesc, 0, out, 0, imgDesc.length)
    var w = imgDesc.length
    out(w) = minCodeSize.toByte; w += 1
    var off = 0
    while (off < lzwLen) {
      val n = math.min(255, lzwLen - off)
      out(w) = n.toByte; w += 1
      System.arraycopy(lzw, off, out, w, n); w += n
      off += n
    }
    out(w) = 0 // block terminator
    out
  }

  /** Grayscale 8-bit non-interlaced PNG with REAL pixel content:
    * `pixel(x, y)` supplies each sample and every scanline y uses
    * filter type `y % 5` — all five PNG filters (None/Sub/Up/Average/
    * Paeth) are exercised, encoded per spec §6 (Filt(x) = Orig(x) -
    * predictor, mod 256) so [[MediaSamples.decodePng]] must invert
    * them exactly to recover the pattern. */
  def pngPixels(width: Int, height: Int,
      pixel: (Int, Int) => Int): Array[Byte] = {
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    val ihdr = beU32(width.toLong) ++ beU32(height.toLong) ++
      Array[Byte](8, 0, 0, 0, 0)
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    val raw = new Array[Byte]((width + 1) * height)
    for (y <- 0 until height) {
      val filter = y % 5
      raw((width + 1) * y) = filter.toByte
      for (x <- 0 until width) {
        val orig = pixel(x, y) & 0xFF
        val left = if (x > 0) pixel(x - 1, y) & 0xFF else 0
        val up = if (y > 0) pixel(x, y - 1) & 0xFF else 0
        val upLeft = if (x > 0 && y > 0) pixel(x - 1, y - 1) & 0xFF else 0
        val filt = filter match {
          case 0 => orig
          case 1 => orig - left
          case 2 => orig - up
          case 3 => orig - ((left + up) >> 1)
          case 4 => orig - paeth(left, up, upLeft)
        }
        raw((width + 1) * y + 1 + x) = (filt & 0xFF).toByte
      }
    }
    val bos = new java.io.ByteArrayOutputStream
    val dos = new java.util.zip.DeflaterOutputStream(bos)
    dos.write(raw); dos.close()
    sig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", bos.toByteArray) ++
      pngChunk("IEND", Array.empty[Byte])
  }

  /** Mono 16-bit PCM WAV with REAL sample content from `sample(i)`. */
  def wavSamples(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    val fmt = "fmt ".getBytes("US-ASCII") ++ leU32(16) ++
      leU16(1) ++ leU16(1) ++ leU32(sampleRate.toLong) ++
      leU32(sampleRate.toLong * 2) ++ leU16(2) ++ leU16(16)
    val dataBytes = new Array[Byte](samples.length * 2)
    for (k <- samples.indices) {
      dataBytes(2 * k) = (samples(k) & 0xFF).toByte
      dataBytes(2 * k + 1) = ((samples(k) >> 8) & 0xFF).toByte
    }
    val data = "data".getBytes("US-ASCII") ++
      leU32(samples.length.toLong * 2) ++ dataBytes
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ leU32(body.length.toLong) ++ body
  }

  /** Minimal PCM WAV: RIFF/WAVE, fmt chunk, `nSamples` zero samples. */
  def wav(sampleRate: Int, channels: Int, bitsPerSample: Int,
      nSamples: Int = 4): Array[Byte] = {
    val blockAlign = channels * bitsPerSample / 8
    val fmt = "fmt ".getBytes("US-ASCII") ++ leU32(16) ++
      leU16(1) ++ leU16(channels) ++ leU32(sampleRate.toLong) ++
      leU32(sampleRate.toLong * blockAlign) ++ leU16(blockAlign) ++ leU16(bitsPerSample)
    val data = "data".getBytes("US-ASCII") ++ leU32(nSamples.toLong * blockAlign) ++
      new Array[Byte](nSamples * blockAlign)
    val body = "WAVE".getBytes("US-ASCII") ++ fmt ++ data
    "RIFF".getBytes("US-ASCII") ++ leU32(body.length.toLong) ++ body
  }
}
