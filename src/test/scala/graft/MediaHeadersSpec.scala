package graft

import graft.pipeline.{MediaFixtures, MediaHeaders}

/** Header decoders vs spec-built fixtures, plus hostile-input totality.
  * Fixture bytes are constructed from the public container specs (like
  * MmdbSpec's byte-by-byte .mmdb files), never shipped binaries. */
class MediaHeadersSpec extends GraftSuite {

  test("png round trip incl. large dimensions") {
    for ((w, h) <- Seq((1, 1), (640, 480), (16384, 9000))) {
      val m = MediaHeaders.decode(MediaFixtures.png(w, h))
      assert((m.format, m.width, m.height) == ("png", w, h))
      assert(m.sample_rate == -1 && m.channels == -1)
    }
  }

  test("png fixture is a fully valid stream (zlib inflates, CRCs check)") {
    val b = MediaFixtures.png(5, 3)
    // IHDR CRC: recompute over tag+payload
    val crc = new java.util.zip.CRC32
    crc.update(b, 12, 4 + 13)
    val stored = ((b(29) & 0xFFL) << 24) | ((b(30) & 0xFFL) << 16) |
      ((b(31) & 0xFFL) << 8) | (b(32) & 0xFFL)
    assert(crc.getValue == stored)
    // IDAT payload inflates without error
    val idatLen = ((b(33) & 0xFF) << 24) | ((b(34) & 0xFF) << 16) |
      ((b(35) & 0xFF) << 8) | (b(36) & 0xFF)
    val inf = new java.util.zip.Inflater
    inf.setInput(b, 41, idatLen)
    val out = new Array[Byte](1024)
    assert(inf.inflate(out) > 0)
  }

  test("jpeg round trip: SOF0 after APP0/DQT markers") {
    for ((w, h) <- Seq((1, 1), (800, 600), (65535, 65535))) {
      val m = MediaHeaders.decode(MediaFixtures.jpeg(w, h))
      assert((m.format, m.width, m.height) == ("jpeg", w, h))
    }
  }

  test("jpeg progressive SOF2 and padded fill bytes") {
    // hand-build: SOI, fill FFs, APP1, SOF2
    val sof2payload = Array[Byte](8) ++ Array(((300 >> 8) & 0xFF).toByte,
      (300 & 0xFF).toByte, ((500 >> 8) & 0xFF).toByte, (500 & 0xFF).toByte) ++
      Array[Byte](1, 1, 0x11, 0)
    val b = Array(0xFF, 0xD8, 0xFF, 0xFF, 0xFF, 0xE1, 0x00, 0x04, 0x00, 0x00)
      .map(_.toByte) ++
      Array(0xFF, 0xC2).map(_.toByte) ++
      Array((((sof2payload.length + 2) >> 8) & 0xFF).toByte,
        ((sof2payload.length + 2) & 0xFF).toByte) ++ sof2payload
    val m = MediaHeaders.decode(b)
    assert((m.format, m.width, m.height) == ("jpeg", 500, 300))
  }

  test("gif round trip") {
    val m = MediaHeaders.decode(MediaFixtures.gif(320, 200))
    assert((m.format, m.width, m.height) == ("gif", 320, 200))
  }

  test("wav round trip incl. preceding junk chunk") {
    val m = MediaHeaders.decode(MediaFixtures.wav(44100, 2, 16))
    assert((m.format, m.sample_rate, m.channels, m.bits_per_sample) ==
      ("wav", 44100, 2, 16))
    assert(m.width == -1 && m.height == -1)
    // splice a LIST chunk before fmt : walker must skip it (odd size padded)
    val wavB = MediaFixtures.wav(8000, 1, 8)
    val junk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0)
    val spliced = wavB.take(12) ++ junk ++ wavB.drop(12)
    val m2 = MediaHeaders.decode(spliced)
    assert((m2.format, m2.sample_rate, m2.channels) == ("wav", 8000, 1))
  }

  test("hostile inputs decode to unknown, never throw") {
    val cases = Seq(
      null,
      Array.empty[Byte],
      Array[Byte](1, 2, 3),
      "not a media file at all".getBytes,
      MediaFixtures.png(10, 10).take(20),          // truncated IHDR
      MediaFixtures.jpeg(10, 10).take(3),          // truncated marker
      Array(0xFF, 0xD8, 0xFF, 0xDA, 0x00, 0x02, 0x00, 0x00, 0x00, 0x00,
        0x00, 0x00).map(_.toByte),                 // SOS before SOF
      "RIFF....WAVE".getBytes,                     // RIFF with no fmt
      "RIFF....WAVEfmt ".getBytes ++ Array[Byte](-1, -1, -1, 0x7F), // huge size
      MediaFixtures.gif(1, 1).take(7))
    for (c <- cases) assert(MediaHeaders.decode(c).format == "unknown",
      s"case ${if (c == null) "null" else c.length.toString}")
  }

  test("spark fixture corpus decodes end to end") {
    val meta = graft.pipeline.Multimodal.extractHeaders(
      graft.pipeline.Multimodal.mediaFixtures(spark, "/root/testdata/sf0.001"))
    assert(meta.filter(meta("format") === "unknown").count() == 0)
  }

  test("png pixel decode: every filter type round-trips exactly") {
    import graft.pipeline.{MediaFixtures, MediaSamples}
    // 7 rows cycles all 5 filters (incl. a second None/Sub use); the
    // pattern has horizontal AND vertical gradients so Sub/Up/Average/
    // Paeth all produce non-trivial residuals
    val pat = (x: Int, y: Int) => (x * 7 + y * 13 + (x * y) % 5) % 256
    val bytes = MediaFixtures.pngPixels(9, 7, pat)
    val d = MediaSamples.decode(bytes)
    assert(d != null && d.format == "png")
    val expected = for (y <- 0 until 7; x <- 0 until 9) yield pat(x, y)
    assert(d.samples.toSeq == expected)
  }

  test("wav pcm decode: 16-bit signed samples incl. negatives") {
    import graft.pipeline.{MediaFixtures, MediaSamples}
    val samples = Array(0, 1, -1, 32767, -32768, 1234, -4321)
    val d = MediaSamples.decode(MediaFixtures.wavSamples(8000, samples))
    assert(d != null && d.format == "wav")
    assert(d.samples.toSeq == samples.toSeq)
  }

  test("pixel decode rejects corrupt/unsupported input, never throws") {
    import graft.pipeline.{MediaFixtures, MediaSamples}
    val good = MediaFixtures.pngPixels(8, 8, (x, y) => x + y)
    // flip one IDAT payload byte -> chunk CRC mismatch -> null
    val corrupt = good.clone()
    val idatAt = {
      var i = 8; var at = -1
      while (at < 0 && i + 8 < corrupt.length) {
        if (new String(corrupt, i + 4, 4, "US-ASCII") == "IDAT") at = i
        else i += 12 + ((corrupt(i) & 0xFF) << 24 | (corrupt(i + 1) & 0xFF) << 16 |
          (corrupt(i + 2) & 0xFF) << 8 | (corrupt(i + 3) & 0xFF))
      }
      at
    }
    corrupt(idatAt + 10) = (corrupt(idatAt + 10) ^ 0x55).toByte
    assert(MediaSamples.decode(corrupt) == null)
    // truncated stream, JPEG (codec-bound, declared out), image-less
    // GIF (header+trailer only — no pixel data to decode), junk
    assert(MediaSamples.decode(good.take(40)) == null)
    assert(MediaSamples.decode(MediaFixtures.jpeg(8, 8)) == null)
    assert(MediaSamples.decode(MediaFixtures.gif(8, 8)) == null)
    assert(MediaSamples.decode("junk".getBytes) == null)
    assert(MediaSamples.decode(null) == null)
  }

  test("gif lzw decode: small + full-table round trips, exact indices") {
    import graft.pipeline.{MediaFixtures, MediaSamples}
    // 16x16 = 256 pixels: stays at 9-bit codes
    val pat = (x: Int, y: Int) => x + y
    val small = MediaSamples.decode(MediaFixtures.gifPixels(16, 16, pat))
    assert(small != null && small.format == "gif")
    assert(small.samples.toSeq ==
      (for (y <- 0 until 16; x <- 0 until 16) yield x + y))
    // 112x68 = 7616 pixels: the decoder's table walks 9->10->11->12
    // bits and then runs ~3500 codes in the full-table steady state
    val big = MediaSamples.decode(MediaFixtures.gifPixels(112, 68, pat))
    assert(big != null && big.samples.length == 112 * 68)
    assert(big.samples.toSeq ==
      (for (y <- 0 until 68; x <- 0 until 112) yield x + y))
  }

  test("gif lzw decode: KwKwK code and hostile streams") {
    import graft.pipeline.MediaSamples
    // handcrafted REAL compression: minCodeSize=2 (clear=4, eoi=5),
    // codes [clear, 1, 6] where 6 is the not-yet-defined next slot —
    // the KwKwK case, decoding to string(1) + first(1) = "1","1";
    // total pixels "1 1 1". Bits LSB-first at width 3: 0x8C, 0x0B.
    def gifWith(w: Int, h: Int, minCode: Int, lzw: Array[Byte],
        ipacked: Int = 0): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++
        Array[Byte]((w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte,
          (h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte, 0, 0, 0) ++ // no GCT
        Array[Byte](0x2C.toByte, 0, 0, 0, 0,
          (w & 0xFF).toByte, ((w >> 8) & 0xFF).toByte,
          (h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte,
          ipacked.toByte) ++
        Array[Byte](minCode.toByte, lzw.length.toByte) ++ lzw ++
        Array[Byte](0, 0x3B.toByte)
    val kwkwk = MediaSamples.decode(
      gifWith(3, 1, 2, Array(0x8C.toByte, 0x0B.toByte)))
    assert(kwkwk != null && kwkwk.samples.toSeq == Seq(1, 1, 1))
    // interlaced flag -> declared unsupported
    assert(MediaSamples.decode(
      gifWith(3, 1, 2, Array(0x8C.toByte, 0x0B.toByte), ipacked = 0x40)) == null)
    // a code past the next free slot is corrupt: [clear, 1, 7] (7 > 6)
    // bits: 4,1,7 -> 0xCC 0x0B
    assert(MediaSamples.decode(
      gifWith(3, 1, 2, Array(0xCC.toByte, 0x0B.toByte))) == null)
    // overrun: 4 decoded pixels into a 3-pixel image is fine (capped),
    // but image sized 2 pixels with the same stream must reject
    assert(MediaSamples.decode(
      gifWith(2, 1, 2, Array(0x8C.toByte, 0x0B.toByte))) == null)
    // stream truncated MID-CODE: [clear, 1] then 2 bits of a third code
    // — the decoder keeps the decoded prefix (r15 pins the rewritten
    // 64-bit-accumulator bit reader's end-of-stream behavior: a refill
    // that cannot reach `width` bits ends the walk, identical to the
    // old bit-at-a-time reader's bitPos+width > totalBits check)
    val truncated = MediaSamples.decode(
      gifWith(3, 1, 2, Array(0x8C.toByte)))
    assert(truncated != null && truncated.samples.toSeq == Seq(1))
  }

  test("spark gif corpus: stats survive the distributed decode") {
    val stats = graft.pipeline.Multimodal.extractSampleStats(
      graft.pipeline.Multimodal.gifFixtures(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { s =>
      val w = 16 + s.media_id % 97; val h = 16 + s.media_id % 53
      assert(s.fmt == "gif" && s.n == w * h && s.vmin == 0)
      assert(s.vmax == (w - 1) + (h - 1))
      assert(s.vmean == ((w - 1) + (h - 1)) / 2.0)
    }
  }

  test("mp4 box walk: mvhd + tkhd round trip, hostile boxes rejected") {
    import graft.pipeline.{MediaFixtures, MediaHeaders}
    val m = MediaHeaders.decode(MediaFixtures.mp4(1920, 1080, 24000, 360240))
    assert(m.format == "mp4")
    assert((m.width, m.height) == (1920, 1080))
    assert(m.sample_rate == 24000) // timescale
    assert(m.duration_ms == 360240L * 1000 / 24000)
    // truncated / malformed sizes never throw, fall to unknown
    val good = MediaFixtures.mp4(64, 48, 1000, 5000)
    assert(MediaHeaders.decode(good.take(10)).format == "unknown")
    val bad = good.clone(); bad(0) = 0x7F.toByte // huge ftyp size
    assert(MediaHeaders.decode(bad).format == "unknown")
  }

  test("audio features: exact energy/peak/zcr/mean on a hand vector; non-audio drops") {
    import spark.implicits._
    // hand vector: [3, -2, 0, -1, 4] -> energy 9+4+0+1+16=30, peak 4,
    // zcr: 3->-2 crosses, -2->0 no (zero), 0->-1 no, -1->4 crosses = 2
    val rows = Seq(
      graft.pipeline.Multimodal.MediaRow(1L, "audio/wav",
        graft.pipeline.MediaFixtures.wavSamples(8000,
          Array(3, -2, 0, -1, 4)), 0, 0),
      // a PNG payload must be filtered out, not mis-featured
      graft.pipeline.Multimodal.MediaRow(2L, "image/png",
        graft.pipeline.MediaFixtures.pngPixels(16, 16, (x, y) => x + y), 16, 16),
      // corrupt bytes drop silently (codec boundary)
      graft.pipeline.Multimodal.MediaRow(3L, "audio/wav",
        Array[Byte](1, 2, 3), 0, 0)
    ).toDS()
    val out = graft.pipeline.Multimodal.extractAudioFeatures(rows).collect()
    assert(out.map(_.media_id).toSeq == Seq(1L))
    val f = out.head
    assert(f.n_samples == 5 && f.energy == 30L && f.peak == 4L && f.zcr == 2L)
    assert(f.vmean == 4.0 / 5)
  }

  test("spark audio corpus: features survive the distributed decode") {
    val feats = graft.pipeline.Multimodal.extractAudioFeatures(
      graft.pipeline.Multimodal.audioFixtures(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      val amp = 1 + f.media_id % 50
      val v = (0 until 64).map(i => ((f.media_id + i) % 7 - 3) * amp)
      assert(f.n_samples == 64)
      assert(f.energy == v.map(x => x * x).sum)
      assert(f.peak == v.map(math.abs).max)
      assert(f.zcr == (1 until 64).count(i => v(i) * v(i - 1) < 0))
    }
  }

  test("spark pixel corpus: stats survive the distributed decode") {
    val stats = graft.pipeline.Multimodal.extractSampleStats(
      graft.pipeline.Multimodal.pixelFixtures(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(stats.nonEmpty)
    stats.foreach { s =>
      if (s.fmt == "png") {
        val w = 16 + s.media_id % 97; val h = 16 + s.media_id % 53
        assert(s.n == w * h && s.vmin == 0 && s.vmax == (w - 1) + (h - 1))
        assert(s.vmean == ((w - 1) + (h - 1)) / 2.0)
      } else {
        val base = s.media_id % 100
        assert(s.n == 64 && s.vmin == base && s.vmax == base + 63)
        assert(s.vmean == base + 31.5)
      }
    }
  }
}
