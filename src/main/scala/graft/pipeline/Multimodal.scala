package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, decoded/feature-extracted in batched
  * partition passes.
  *
  * Two decode paths:
  *  - [[extractHeaders]] — REAL container-header decoding, pure JVM
  *    ([[MediaHeaders]]: PNG IHDR, JPEG SOFn, GIF screen descriptor,
  *    WAV fmt) — dimensions, sample rate, channels from the bytes;
  *  - [[extractFeatures]] — payload byte statistics plus the one
  *    remaining STUB boundary (`decodeStub`): pixel/sample decoding
  *    needs codec libraries this container lacks, so it produces
  *    deterministic features from the raw bytes with the same batch
  *    shape a real codec call would have.
  */
object Multimodal {

  /** One media row: bytes + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte],
      width: Int, height: Int)

  /** Extracted features per media item. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      first_byte: Int, checksum: Long, feature: Array[Float])

  /** === STUB BOUNDARY ===
    * A real implementation decodes `bytes` with an image/audio codec and
    * computes e.g. pixel stats or a mel spectrogram. Container has no
    * codecs, so this produces deterministic fake features from the raw
    * bytes (same signature, same batch shape). */
  def decodeStub(row: MediaRow): MediaFeatures = {
    // polynomial checksum mod 2^31-1: no silent 64-bit wraparound, so an
    // external engine can recompute it from the payload bytes
    var checksum = 0L
    var i = 0
    while (i < row.bytes.length) {
      checksum = (checksum * 31 + (row.bytes(i) & 0xFF)) % 2147483647L; i += 1
    }
    val feature = Array.tabulate(8) { j =>
      // fake "embedding": byte histogram buckets, normalized
      var c = 0
      var k = j
      while (k < row.bytes.length) { c += (row.bytes(k) & 0xFF); k += 8 }
      if (row.bytes.length == 0) 0.0f else c.toFloat / row.bytes.length
    }
    MediaFeatures(row.media_id, row.kind, row.bytes.length,
      if (row.bytes.isEmpty) -1 else row.bytes(0) & 0xFF, checksum, feature)
  }

  /** Batched decode pass: mapPartitions so a real decoder can amortize
    * per-batch init (model load, codec context) across the partition —
    * the same shape `mapInPandas` gives Python. Every decode pass runs
    * over its input's own partitioning, with no shuffle and no job while
    * the frame is built: a parquet scan already packs splits by bytes
    * (`FilePartition.maxSplitBytes`), and the scan floor spreads small
    * bench-scale scans (`Tables.withScanFloor`). */
  def extractFeatures(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition init happens here (decoder/model handle)
      it.map(decodeStub)
    }
  }

  /** Build a media frame from the documents table (text bytes stand in
    * for the opaque payload; the plumbing is identical). */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").as("media_id"), lit("text/fake").as("kind"),
        encode(col("text"), "UTF-8").as("bytes"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRow]
  }

  /** Parsed header metadata per media item (the REAL decode path — see
    * [[MediaHeaders]]; only pixel/sample decoding remains codec-bound). */
  case class MediaMeta(media_id: Long, format: String, width: Int,
      height: Int, sample_rate: Int, channels: Int, bits_per_sample: Int,
      duration_ms: Long = -1L)

  /** Batched header decode: same in-place mapPartitions shape as
    * [[extractFeatures]], but the decoder is the real container-header
    * parser — dimensions and sample rates come from the bytes. */
  def extractHeaders(ds: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { row =>
        val m = MediaHeaders.decode(row.bytes)
        MediaMeta(row.media_id, m.format, m.width, m.height,
          m.sample_rate, m.channels, m.bits_per_sample, m.duration_ms)
      }
    }
  }

  /** Spec-built fixture corpus over the documents table: each doc_id
    * deterministically picks a container format and ground-truth
    * metadata, then [[MediaFixtures]] renders REAL container bytes. An
    * external oracle recomputes the same metadata from doc_id arithmetic
    * — matching it proves [[MediaHeaders.decode]] recovers the values
    * from the bytes alone. */
  def mediaFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = (16 + id % 97).toInt
        val h = (16 + id % 53).toInt
        val bytes = (id % 4) match {
          case 0 => MediaFixtures.png(w, h)
          case 1 => MediaFixtures.jpeg(w, h)
          case 2 => MediaFixtures.gif(w, h)
          case _ => MediaFixtures.wav((8000 + (id % 6) * 8000).toInt,
            (1 + id % 2).toInt, 16)
        }
        val kind = (id % 4) match {
          case 0 => "image/png"; case 1 => "image/jpeg"
          case 2 => "image/gif"; case _ => "audio/wav"
        }
        MediaRow(id, kind, bytes, 0, 0)
      }
  }

  /** Per-item sample statistics from the REAL pixel/sample decode
    * ([[MediaSamples]]): PNG pixels recovered through inflate +
    * de-filter, WAV PCM samples. `vmean` is exact-integer-sum / n. */
  case class SampleStats(media_id: Long, fmt: String, n: Long,
      vmin: Long, vmax: Long, vmean: Double)

  /** Pixel-content fixture corpus: doc_id picks PNG (even, pattern
    * pixel(x,y) = x + y — every scanline filter type cycles, and with
    * w,h < 128 the pattern never wraps mod 256, so the stats are
    * closed-form for the external oracle) or WAV (odd, 64 16-bit
    * samples `id%100 + i`). */
  def pixelFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        if (id % 2 == 0) {
          val w = (16 + id % 97).toInt
          val h = (16 + id % 53).toInt
          MediaRow(id, "image/png",
            MediaFixtures.pngPixels(w, h, (x, y) => x + y), w, h)
        } else {
          val base = (id % 100).toInt
          MediaRow(id, "audio/wav",
            MediaFixtures.wavSamples(16000,
              Array.tabulate(64)(i => base + i)), 0, 0)
        }
      }
  }

  /** GIF pixel-content fixture corpus (r8 — the LZW codec layer is now
    * real): every doc renders a full-screen GIF89a with the same
    * never-wrapping `pixel(x,y) = x + y` pattern as the PNG corpus
    * (w,h < 128 ⇒ max index 252), grayscale identity palette so index
    * == luminance; w·h ranges past 4096 so the fixture set covers
    * every LZW code width 9→12 AND the full-table steady state. */
  def gifFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = (16 + id % 97).toInt
        val h = (16 + id % 53).toInt
        MediaRow(id, "image/gif",
          MediaFixtures.gifPixels(w, h, (x, y) => x + y), w, h)
      }
  }

  /** Video fixture corpus: ISO-BMFF mp4 containers with closed-form
    * metadata in doc_id — timescale a multiple of 1000 so duration_ms
    * round-trips integrally through the mvhd units. */
  def videoFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val w = (160 + (id % 32) * 16).toInt
        val h = (90 + (id % 18) * 16).toInt
        val ts = (1 + id % 8) * 1000
        val durMs = id % 90000
        MediaRow(id, "video/mp4",
          MediaFixtures.mp4(w, h, ts, durMs * (1 + id % 8)), w, h)
      }
  }

  /** Audio feature extraction (r9): the classic frame-level signal
    * features over decoded PCM — energy (Σ v², exact integer), peak
    * (max |v|), zero-crossing count (strict sign flips: v·prev < 0, a
    * zero sample is not a crossing), integer-sum mean. What an audio
    * quality/VAD gate computes per clip before any model sees it. */
  case class AudioFeatures(media_id: Long, n_samples: Long, energy: Long,
      peak: Long, zcr: Long, vmean: Double)

  /** Audio fixture corpus: 16-bit mono WAVs whose 64 samples are
    * closed-form in doc_id — `((id + i) % 7 − 3) · (1 + id % 50)` —
    * sign-alternating (so zero crossings are exercised) with per-doc
    * amplitude, all analytically replayable by the oracle. */
  def audioFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val amp = (1 + id % 50).toInt
        MediaRow(id, "audio/wav",
          MediaFixtures.wavSamples(16000,
            Array.tabulate(64)(i => (((id + i) % 7).toInt - 3) * amp)), 0, 0)
      }
  }

  /** Batched PCM decode + audio features: same shape as
    * [[extractSampleStats]] — per-row constant cost, narrow pipeline,
    * non-audio/undecodable payloads drop. */
  def extractAudioFeatures(ds: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        Option(MediaSamples.decode(row.bytes))
          .filter(d => d.format == "wav" && d.samples.nonEmpty)
          .map { d =>
            var energy = 0L; var peak = 0L; var zcr = 0L; var s = 0L
            var prev = 0L
            var i = 0
            while (i < d.samples.length) {
              val v = d.samples(i).toLong
              energy += v * v
              peak = math.max(peak, math.abs(v))
              s += v
              if (i > 0 && v * prev < 0) zcr += 1
              prev = v
              i += 1
            }
            AudioFeatures(row.media_id, d.samples.length, energy, peak,
              zcr, s.toDouble / d.samples.length)
          }
      }
    }
  }

  /** Batched sample decode + stats: same in-place shape as
    * [[extractFeatures]], decoder is [[MediaSamples.decode]]. Undecodable
    * payloads (JPEG and corrupt bytes) drop — the codec boundary. */
  def extractSampleStats(ds: Dataset[MediaRow]): Dataset[SampleStats] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        Option(MediaSamples.decode(row.bytes)).filter(_.samples.nonEmpty)
          .map { d =>
            var mn = Long.MaxValue; var mx = Long.MinValue; var s = 0L
            d.samples.foreach { v =>
              mn = math.min(mn, v); mx = math.max(mx, v); s += v
            }
            SampleStats(row.media_id, d.format, d.samples.length,
              mn, mx, s.toDouble / d.samples.length)
          }
      }
    }
  }

  // ---- perceptual image dedup (dHash) --------------------------------------

  /** One image fingerprint: dHash over the decoded grayscale pixels.
    * `dhash` is the 64-bit difference hash rendered as 16 lowercase hex
    * chars (unsigned — bit 63 would flip a BIGINT's sign, and the
    * external oracle cannot build `1<<63`). */
  case class ImageHash(media_id: Long, w: Int, h: Int, dhash: String,
      dhashBits: Long)

  /** dHash — THE standard perceptual fingerprint for image near-dup
    * detection at corpus scale (difference hash): downsample to a 9×8
    * grid of block means, set bit `r*8+c` when cell (c+1,r) is brighter
    * than cell (c,r). Two properties make it the right corpus tool:
    * global brightness shifts cancel exactly (the comparison is
    * invariant under pixel+k), and re-encodes/minor noise move few
    * bits, so near-dups sit at small Hamming distance.
    *
    * Block means never materialize as floats: cell (c,r) covers
    * x ∈ [c·w/9, (c+1)·w/9) × y ∈ [r·h/8, (r+1)·h/8) (integer floors)
    * and the mean comparison cross-multiplies the integer block sums by
    * the column widths — bit-exact, so an external oracle replays it in
    * pure integer arithmetic. Images narrower than the grid (w<9 or
    * h<8) drop. One narrow partition pass, no shuffle. */
  def imageDHash(ds: Dataset[MediaRow]): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val meta = MediaHeaders.decode(row.bytes)
        val dec = MediaSamples.decode(row.bytes)
        if (meta == null || dec == null || meta.width < 9 || meta.height < 8 ||
            dec.samples.length != meta.width * meta.height) None
        else {
          val bits = dhashBitsOf(dec.samples, meta.width, meta.height)
          Some(ImageHash(row.media_id, meta.width, meta.height,
            f"$bits%016x", bits))
        }
      }
    }
  }

  /** The 64-bit dHash over one decoded grayscale frame — the shared
    * core of [[imageDHash]] and [[videoDHash]]. Block sums iterate by
    * block so the floor boundaries tile exactly like the oracle's
    * range(r*h//8, (r+1)*h//8) × range(c*w//9, (c+1)*w//9); the mean
    * comparison cross-multiplies integer sums by the column widths. */
  private[pipeline] def dhashBitsOf(px: Array[Int], w: Int, h: Int): Long = {
    val s = Array.ofDim[Long](8, 9)
    var br = 0
    while (br < 8) {
      val y0 = br * h / 8; val y1 = (br + 1) * h / 8
      var bc = 0
      while (bc < 9) {
        val x0 = bc * w / 9; val x1 = (bc + 1) * w / 9
        var acc = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { acc += px(y * w + x); x += 1 }
          y += 1
        }
        s(br)(bc) = acc
        bc += 1
      }
      br += 1
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val aw = ((c + 1) * w / 9 - c * w / 9).toLong
        val bw = ((c + 2) * w / 9 - (c + 1) * w / 9).toLong
        if (s(r)(c + 1) * aw > s(r)(c) * bw)
          bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Shared banded-pair core over any 64-bit perceptual fingerprint:
    * 4 bands of 16 bits (a pair within Hamming 3 keeps at least one
    * band intact — pigeonhole-exact), banded equi-join + per-candidate
    * verify, so the join finds EXACTLY the brute-force pair set while
    * only shuffling (band, key) rows — no all-pairs stage anywhere.
    * `extras` are per-row columns that ride the banded exchange and
    * come out suffixed `_a`/`_b` (the video path's temporal columns).
    * Candidates keep `hamming`; callers add their own secondary
    * verification and projection. */
  private def bandedHamming64Pairs(h: DataFrame, bits: String,
      maxHamming: Int, extras: Seq[String]): DataFrame = {
    require(maxHamming <= 3, "4×16 banding is exact only for distance <= 3")
    val banded = h
      .select((Seq(col("media_id"), col(bits).as("__bits")) ++
        extras.map(col)): _*)
      .withColumn("bk", explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("__bits"), b * 16)
            .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)))
    def side(sfx: String) = banded.select((Seq(
      col("bk").as("bk" + sfx), col("media_id").as("id" + sfx),
      col("__bits").as("bits" + sfx)) ++
      extras.map(e => col(e).as(e + sfx))): _*)
    side("_a").join(side("_b"),
        col("bk_a") === col("bk_b") && col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("bits_a").bitwiseXOR(col("bits_b"))))
      .where(col("hamming") <= maxHamming)
  }

  /** Cluster EDGES over any 64-bit fingerprint with the
    * exact-duplicate collapse ([[Dedup.collapseExactFingerprints]],
    * r11 verdict #1): the banded join runs over DISTINCT fingerprint
    * tuples only — O(distinct-hash pairs), not O(row pairs) — and the
    * members of each identical-fingerprint group rejoin through linear
    * member→canonical edges. `keyCols` must be the FULL tuple the pair
    * predicate reads (`verify` runs on the rep pairs, e.g. the video
    * path's temporal alignment). Components over these edges are
    * bit-identical to components over the full pair set. */
  private def bandedHamming64ClusterEdges(h: DataFrame, bits: String,
      maxHamming: Int, extras: Seq[String],
      verify: DataFrame => DataFrame): DataFrame = {
    val (reps, memberEdges) = Dedup.collapseExactFingerprints(
      h, "media_id", bits +: extras)
    verify(bandedHamming64Pairs(reps, bits, maxHamming, extras))
      .select(col("id_a"), col("id_b"))
      .union(memberEdges)
  }

  /** Near-duplicate image pairs at Hamming distance ≤ `maxHamming`
    * over [[imageDHash]] fingerprints — the image-side twin of the
    * text SimHash dedup ([[bandedHamming64Pairs]]). */
  def imageDHashPairs(hashes: Dataset[ImageHash],
      maxHamming: Int = 3): DataFrame =
    bandedHamming64Pairs(hashes.toDF(), "dhashBits", maxHamming, Nil)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()

  /** Cluster edges for image-dHash CC — [[imageDHashPairs]] semantics
    * through the exact-duplicate collapse. Feeds
    * [[Dedup.dedupClusters]]. */
  def imageDHashClusterEdges(hashes: Dataset[ImageHash],
      maxHamming: Int = 3): DataFrame =
    bandedHamming64ClusterEdges(hashes.toDF(), "dhashBits", maxHamming,
      Nil, identity)

  /** Near-duplicate audio pairs at Hamming ≤ `maxHamming` over
    * [[audioEnergyHash]] fingerprints — completing the modality
    * matrix's audio column (image and video already pair). The energy
    * dHash is gain-invariant, so a re-mastered louder copy pairs with
    * the original; the same exact 4×16 pigeonhole applies verbatim
    * (64-bit hash, Hamming ≤ 3). */
  def audioEnergyHashPairs(hashes: Dataset[AudioHash],
      maxHamming: Int = 3): DataFrame =
    bandedHamming64Pairs(hashes.toDF(), "ahashBits", maxHamming, Nil)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()

  /** Cluster edges for audio-energy-hash CC — [[audioEnergyHashPairs]]
    * semantics through the exact-duplicate collapse. This is THE fix
    * for the r11 scale-killer: the audio fixture's identical-hash
    * clusters grow ∝ N, so the uncollapsed pair stage emitted ~19.5M
    * rows at sf10p (measured 12.1×/decade); collapsed, the same
    * components cost O(N) member edges + O(distinct²-in-band) rep
    * pairs. */
  def audioEnergyHashClusterEdges(hashes: Dataset[AudioHash],
      maxHamming: Int = 3): DataFrame =
    bandedHamming64ClusterEdges(hashes.toDF(), "ahashBits", maxHamming,
      Nil, identity)

  /** Eval-benchmark image set for [[decontaminateImages]]: every 50th
    * doc's image re-rendered at +1 brightness — different BYTES than
    * the corpus copy, identical dHash, exactly the "benchmark contains
    * a re-encoded copy" contamination a byte-level gate misses. */
  def benchmarkImageFixtures(spark: SparkSession,
      sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .filter(id => id % 50 == 0)
      .map { id =>
        val m = (id * 2654435761L) % 4294967296L
        val a = 1 + (m % 251).toInt
        val b = 1 + ((m / 251) % 241).toInt
        val w = 12 + (m % 21).toInt
        val h = 10 + ((m / 21) % 17).toInt
        MediaRow(id, "image/png",
          MediaFixtures.pngPixels(w, h, (x, y) =>
            (a * (x * x + 3 * y) + b * (y * y + 5 * x) +
              x * y * (x + y)) % 250 + 1), w, h)
      }
  }

  /** One audio fingerprint: energy difference hash over decoded PCM. */
  case class AudioHash(media_id: Long, n_samples: Int, ahash: String,
      ahashBits: Long)

  /** Exact `e1·l1 > e0·l0` for non-negative longs via a 128-bit compare
    * (Math.multiplyHigh + unsigned low-word compare). Window energy is
    * Σ s² ≤ 2^30·L, so the cross-multiplied product is ~2^30·L² — a
    * plain Long wraps past ~6M samples at full amplitude (a 6-minute
    * 16 kHz clip), silently corrupting hash bits. The 128-bit form is
    * exact for any clip a Spark row can hold. */
  private[graft] def energyGt(e1: Long, l1: Long, e0: Long, l0: Long): Boolean = {
    val hi1 = Math.multiplyHigh(e1, l1); val lo1 = e1 * l1
    val hi0 = Math.multiplyHigh(e0, l0); val lo0 = e0 * l0
    hi1 > hi0 || (hi1 == hi0 && java.lang.Long.compareUnsigned(lo1, lo0) > 0)
  }

  /** Audio perceptual fingerprint — the 1-D twin of [[imageDHash]]:
    * tile the decoded PCM into 65 windows, set bit w when window w+1
    * carries more energy than window w. Gain changes scale every
    * energy by the same factor so the comparisons are invariant —
    * exactly the property an audio near-dup fingerprint needs (same
    * recording at different volume → identical hash). Integer-exact:
    * energies are Σ s² longs and the mean comparison cross-multiplies
    * by window lengths, so an external oracle replays every bit.
    * Clips shorter than 65 samples drop. Narrow map-only pass. */
  def audioEnergyHash(ds: Dataset[MediaRow]): Dataset[AudioHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val dec = MediaSamples.decode(row.bytes)
        if (dec == null || dec.format != "wav" || dec.samples.length < 65) None
        else {
          val px = dec.samples
          val n = px.length
          val e = new Array[Long](65)
          var w = 0
          while (w < 65) {
            val i0 = w * n / 65; val i1 = (w + 1) * n / 65
            var acc = 0L
            var i = i0
            while (i < i1) { acc += px(i).toLong * px(i); i += 1 }
            e(w) = acc
            w += 1
          }
          var bits = 0L
          w = 0
          while (w < 64) {
            val lw = (w + 1) * n / 65 - w * n / 65
            val lw1 = (w + 2) * n / 65 - (w + 1) * n / 65
            if (energyGt(e(w + 1), lw.toLong, e(w), lw1.toLong)) bits |= 1L << w
            w += 1
          }
          Some(AudioHash(row.media_id, n, f"$bits%016x", bits))
        }
      }
    }
  }

  /** Audio-fingerprint fixture corpus: real RIFF/WAV bytes whose PCM
    * follows a quadratic pattern closed-form in doc_id,
    * `sample(i) = (a·i² + b·i) mod 2003 − 1001`. Planted near-dups:
    * doc_id ≡ 1 (mod 10) byte-identical reuse of the previous clip,
    * ≡ 6 the previous clip at DOUBLE amplitude (different bytes,
    * identical energy hash — gain invariance). */
  def audioHashFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val eid = if (id % 10 == 1 || id % 10 == 6) id - 1 else id
        val gain = if (id % 10 == 6) 2 else 1
        val a = 1 + (eid % 9).toInt
        val b = 2 + (eid % 11).toInt
        val n = 192 + (eid % 64).toInt
        MediaRow(id, "audio/wav",
          MediaFixtures.wavSamples(16000, Array.tabulate(n)(i =>
            ((a * i * i + b * i) % 2003 - 1001) * gain)), 0, 0)
      }
  }

  /** Eval-benchmark audio set for [[decontaminateAudio]]: every 50th
    * doc's clip re-MASTERED at 3× gain — different bytes than the
    * corpus copy, identical energy hash (the invariance the gate
    * exists for). */
  def benchmarkAudioFixtures(spark: SparkSession,
      sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .filter(id => id % 50 == 0)
      .map { id =>
        val a = 1 + (id % 9).toInt
        val b = 2 + (id % 11).toInt
        val n = 192 + (id % 64).toInt
        MediaRow(id, "audio/wav",
          MediaFixtures.wavSamples(16000, Array.tabulate(n)(i =>
            ((a * i * i + b * i) % 2003 - 1001) * 3)), 0, 0)
      }
  }

  /** Eval-benchmark video set for [[decontaminateVideos]]: every 50th
    * doc's clip re-rendered at +1 brightness per frame — different
    * bytes, identical per-frame dHashes, majority hash and temporal
    * signature. */
  def benchmarkVideoFixtures(spark: SparkSession,
      sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .filter(id => id % 50 == 0)
      .map { id =>
        val m = (id * 2654435761L) % 4294967296L
        val a = 1 + (m % 251).toInt
        val b = 1 + ((m / 251) % 241).toInt
        val w = 12 + (m % 21).toInt
        val h = 10 + ((m / 21) % 17).toInt
        val nf = 5 + 2 * (m % 3).toInt
        MediaRow(id, "image/gif",
          MediaFixtures.gifFrames(w, h, nf, (f, x, y) =>
            (a * (x * x + 3 * y) + b * (y * y + 5 * x) +
              x * y * (x + y) + (f + 1) * (x + 2 * y + 7)) % 250 + 1),
          w, h)
      }
  }

  /** Perceptual-dedup fixture corpus: real PNG bytes whose pixels
    * follow a quadratic pattern closed-form in doc_id —
    * `pixel(x,y) = (a(x²+3y) + b(y²+5x) + xy(x+y)) mod 250 (+2)` —
    * chosen so the dHash bits are diverse (a pure gradient saturates
    * every difference bit). Planted near-dups: doc_id ≡ 1 (mod 10)
    * reuses the previous doc's parameters byte-identically; ≡ 6 adds a
    * +2 brightness offset (different bytes, same dHash — the
    * invariance a perceptual hash exists for). */
  /** Multimodal decontamination: drop corpus images perceptually equal
    * (Hamming ≤ `maxHamming` on [[imageDHash]]) to any EVAL-BENCHMARK
    * image — the image-side twin of the text decontaminate family. The
    * benchmark is small by definition, so its banded keys broadcast:
    * corpus hashes once (narrow), explodes 4 band keys, broadcast-joins
    * the benchmark bands, verifies Hamming, and the surviving-id set
    * broadcasts back as an anti-join — the corpus NEVER hash-exchanges.
    * Returns the dropped (media_id, benchmark_id, hamming) triples;
    * pigeonhole-exact for maxHamming ≤ 3. */
  /** Shared benchmark-decontamination core over any 64-bit perceptual
    * fingerprint: the BENCHMARK side is small by definition (an eval
    * set), so its banded keys broadcast and the corpus NEVER
    * hash-exchanges — one narrow hash pass, 4 exploded band keys, a
    * broadcast join, per-candidate verify. `extras` ride both sides
    * (suffixed `_c`/`_b`) for secondary verification (the video path's
    * temporal columns); `verify` filters candidates beyond the Hamming
    * cut. Returns the flagged (media_id, closest benchmark_id,
    * hamming) — ties to the smaller benchmark id. */
  private def decontaminate64(corpusHashes: DataFrame,
      benchHashes: DataFrame, maxHamming: Int, extras: Seq[String],
      verify: DataFrame => DataFrame): DataFrame = {
    require(maxHamming <= 3, "4×16 banding is exact only for distance <= 3")
    def banded(h: DataFrame, ids: String, sfx: String): DataFrame =
      h.select((Seq(col("media_id").as(ids), col("bits").as("bits" + sfx)) ++
        extras.map(e => col(e).as(e + sfx))): _*)
        .withColumn("bk" + sfx, explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("bits" + sfx), b * 16)
              .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)))
    val c = banded(corpusHashes, "media_id", "_c")
    val b = banded(benchHashes, "benchmark_id", "_b")
    val cand = c.join(broadcast(b), col("bk_c") === col("bk_b"))
      .withColumn("hamming",
        bit_count(col("bits_c").bitwiseXOR(col("bits_b"))))
      .where(col("hamming") <= maxHamming)
    verify(cand)
      .groupBy(col("media_id"))
      .agg(min(struct(col("hamming"), col("benchmark_id"))).as("m"))
      .select(col("media_id"), col("m.benchmark_id").as("benchmark_id"),
        col("m.hamming").as("hamming"))
  }

  def decontaminateImages(corpus: Dataset[MediaRow],
      benchmark: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    decontaminate64(
      imageDHash(corpus).toDF()
        .select(col("media_id"), col("dhashBits").as("bits")),
      imageDHash(benchmark).toDF()
        .select(col("media_id"), col("dhashBits").as("bits")),
      maxHamming, Nil, identity)

  /** Audio-side benchmark decontamination: drop corpus clips whose
    * gain-invariant energy hash sits within Hamming ≤ `maxHamming` of
    * any eval clip — a re-mastered (louder/quieter) copy of an eval
    * recording has DIFFERENT bytes but the identical fingerprint, so a
    * byte-level gate finds nothing. Same broadcast-banded shape as the
    * image gate. */
  def decontaminateAudio(corpus: Dataset[MediaRow],
      benchmark: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    decontaminate64(
      audioEnergyHash(corpus).toDF()
        .select(col("media_id"), col("ahashBits").as("bits")),
      audioEnergyHash(benchmark).toDF()
        .select(col("media_id"), col("ahashBits").as("bits")),
      maxHamming, Nil, identity)

  /** Video-side benchmark decontamination: majority-hash Hamming ≤
    * `maxHamming` AND temporally aligned within ±`maxShift` frames
    * (the [[tsigAligned]] verify — a re-rendered OR slightly trimmed
    * eval clip is caught). Benchmark bands broadcast; the corpus pays
    * one decode+hash pass and never exchanges. */
  def decontaminateVideos(corpus: Dataset[MediaRow],
      benchmark: Dataset[MediaRow], maxHamming: Int = 3,
      maxShift: Int = 2): DataFrame =
    decontaminate64(
      videoDHash(corpus).toDF()
        .select(col("media_id"), col("vhashBits").as("bits"),
          col("tsig"), col("n_frames")),
      videoDHash(benchmark).toDF()
        .select(col("media_id"), col("vhashBits").as("bits"),
          col("tsig"), col("n_frames")),
      maxHamming, Seq("tsig", "n_frames"),
      _.where(tsigAligned(col("tsig_c"), col("n_frames_c"),
        col("tsig_b"), col("n_frames_b"), maxShift)))

  /** Coefficients come from a Knuth-mixed eid so the distinct-image
    * space is ~2×10⁷ — small mods (the first draft) capped it at
    * 12,495 patterns, which at sf10p (500k docs) formed ~40-member
    * identical-image clusters whose pair output is inherently
    * quadratic (measured: 1.9 s → 96 s per decade). Real exact-dup
    * mega-clusters go through groupBy/CC dedup (dedup_exact,
    * dedup_cc), not pair enumeration. */
  def dhashFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val eid = if (id % 10 == 1 || id % 10 == 6) id - 1 else id
        val off = if (id % 10 == 6) 2 else 0
        val m = (eid * 2654435761L) % 4294967296L
        val a = 1 + (m % 251).toInt
        val b = 1 + ((m / 251) % 241).toInt
        val w = 12 + (m % 21).toInt
        val h = 10 + ((m / 21) % 17).toInt
        MediaRow(id, "image/png",
          MediaFixtures.pngPixels(w, h, (x, y) =>
            (a * (x * x + 3 * y) + b * (y * y + 5 * x) +
              x * y * (x + y)) % 250 + off), w, h)
      }
  }

  // ---- perceptual video dedup (per-frame dHash + temporal signature) ------

  /** One clip fingerprint: `vhash` = the per-bit MAJORITY of the
    * frames' dHashes (64 bits, re-encode/brightness invariant exactly
    * like the still-image hash), `tsig` = the temporal signature — bit
    * f set when frame f+1's dHash differs from frame f's (≤ 63 frame
    * pairs sampled). `vhash` carries the visual content, `tsig` the
    * cut/motion structure; a re-rendered copy of a clip keeps both. */
  case class VideoHash(media_id: Long, n_frames: Int, vhash: String,
      vhashBits: Long, tsig: Long, w: Int, h: Int)

  /** Per-clip perceptual fingerprint over REAL decoded GIF frames (the
    * LZW path — the container whose pixels this engine decodes; MP4
    * frame decode is codec-bound/declared). Each frame hashes with the
    * still-image dHash core ([[dhashBitsOf]] — integer block sums,
    * cross-multiplied means), then the clip reduces to
    * (majority-vote hash, frame-difference bits). Majority is exact
    * under an odd frame count; with an even count a 50/50 bit reads 0
    * (2·count > F strictly). Clips narrower than the 9×8 grid or with
    * undecodable frames drop. One narrow partition pass, no shuffle —
    * per-row cost is bounded by `maxFrames` frames of w·h pixels. */
  def videoDHash(ds: Dataset[MediaRow],
      maxFrames: Int = 64): Dataset[VideoHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.flatMap { row =>
        val meta = MediaHeaders.decode(row.bytes)
        val frames =
          if (meta == null || meta.format != "gif" ||
              meta.width < 9 || meta.height < 8) null
          else MediaSamples.decodeGifFrames(row.bytes, maxFrames)
        if (frames == null || frames.isEmpty ||
            frames.exists(_.length != meta.width * meta.height)) None
        else {
          val hs = frames.map(dhashBitsOf(_, meta.width, meta.height))
          val n = hs.length
          var vhash = 0L
          var bit = 0
          while (bit < 64) {
            var cnt = 0
            var f = 0
            while (f < n) {
              if (((hs(f) >>> bit) & 1L) != 0) cnt += 1
              f += 1
            }
            if (2 * cnt > n) vhash |= 1L << bit
            bit += 1
          }
          var tsig = 0L
          var f = 0
          while (f < n - 1 && f < 63) {
            if (hs(f) != hs(f + 1)) tsig |= 1L << f
            f += 1
          }
          Some(VideoHash(row.media_id, n, f"$vhash%016x", vhash, tsig,
            meta.width, meta.height))
        }
      }
    }
  }

  /** Shift-tolerant temporal-signature compare (r10 verdict #3): the
    * clips match time-wise when some alignment within ±`maxShift`
    * frames makes their temporal signatures agree on the overlapping
    * window. tsig bit f compares frame f to f+1, so trimming `s`
    * leading frames shifts the signature right by s, and trimming
    * trailing frames just truncates the top — alignment s compares
    * `ta >>> s` to `tb` over the min(valid_a − s, valid_b) low bits
    * (valid = min(n−1, 63), the bits [[videoDHash]] actually wrote).
    * s = 0 is the old exact-equality check for equal-length clips.
    * All compiled column arithmetic, evaluated post-join on candidates
    * only. */
  private[pipeline] def tsigAligned(ta: Column, na: Column, tb: Column,
      nb: Column, maxShift: Int): Column = {
    def valid(n: Column): Column = least(n - 1, lit(63))
    // (1L << len) - 1 for len in [1, 63]: len = 63 wraps to MinValue
    // and the -1 lands exactly on MaxValue — the full 63-bit mask
    def mask(len: Column): Column =
      call_function("shiftleft", lit(1L), len) - 1
    def aligned(x: Column, nx: Column, y: Column, ny: Column,
        s: Int): Column = {
      val ov = least(valid(nx) - s, valid(ny))
      // ov >= 1 guards the mask: a negative/zero overlap never matches
      ov >= 1 && (shiftrightunsigned(x, s).bitwiseAND(mask(ov)) ===
        y.bitwiseAND(mask(ov)))
    }
    (0 to maxShift).flatMap { s =>
      if (s == 0) Seq(aligned(ta, na, tb, nb, 0))
      else Seq(aligned(ta, na, tb, nb, s), aligned(tb, nb, ta, na, s))
    }.reduce(_ || _)
  }

  /** Near-duplicate clip pairs: banded equi-join on the majority hash
    * (the same exact 4×16 pigeonhole as [[imageDHashPairs]], via
    * [[bandedHamming64Pairs]]) verified at Hamming ≤ `maxHamming` AND
    * temporally aligned signatures — two clips must look alike
    * frame-wise and cut alike time-wise. `maxShift` (r10 verdict #3)
    * tolerates clips trimmed or shifted by up to that many frames
    * (a 1-frame-trimmed re-upload previously escaped the exact tsig
    * equality); 0 restores the exact check. Only (band, key) shuffles;
    * no all-pairs stage. */
  def videoDHashPairs(hashes: Dataset[VideoHash],
      maxHamming: Int = 3, maxShift: Int = 2): DataFrame =
    bandedHamming64Pairs(hashes.toDF(), "vhashBits", maxHamming,
        Seq("tsig", "n_frames"))
      .where(tsigAligned(col("tsig_a"), col("n_frames_a"),
        col("tsig_b"), col("n_frames_b"), maxShift))
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()

  /** Cluster edges for video-dHash CC — [[videoDHashPairs]] semantics
    * through the exact-duplicate collapse. The collapse key is the
    * FULL pair-predicate tuple (vhash, tsig, n_frames): two clips
    * agreeing on all three are definitionally pair-equivalent, and the
    * temporal-alignment verify runs unchanged on the rep pairs. */
  def videoDHashClusterEdges(hashes: Dataset[VideoHash],
      maxHamming: Int = 3, maxShift: Int = 2): DataFrame =
    bandedHamming64ClusterEdges(hashes.toDF(), "vhashBits", maxHamming,
      Seq("tsig", "n_frames"),
      p => p.where(tsigAligned(col("tsig_a"), col("n_frames_a"),
        col("tsig_b"), col("n_frames_b"), maxShift)))

  /** Video-dedup fixture corpus: animated GIFs whose frame pixels are
    * quadratic in (x, y) with a frame-linear term — closed-form in
    * doc_id so an external oracle replays every frame hash, majority
    * bit, and temporal-difference bit. Planted near-dups: doc_id ≡ 1
    * (mod 10) byte-identical reuse of the previous clip, ≡ 6 the
    * previous clip re-rendered at +2 brightness per frame (different
    * bytes, identical vhash AND tsig — re-encode invariance). Frame
    * counts 5/7/9 (odd → exact majority). */
  def videoHashFixtures(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).as[Long]
      .map { id =>
        val eid = if (id % 10 == 1 || id % 10 == 6) id - 1 else id
        val off = if (id % 10 == 6) 2 else 0
        val m = (eid * 2654435761L) % 4294967296L
        val a = 1 + (m % 251).toInt
        val b = 1 + ((m / 251) % 241).toInt
        val w = 12 + (m % 21).toInt
        val h = 10 + ((m / 21) % 17).toInt
        val nf = 5 + 2 * (m % 3).toInt
        MediaRow(id, "image/gif",
          MediaFixtures.gifFrames(w, h, nf, (f, x, y) =>
            (a * (x * x + 3 * y) + b * (y * y + 5 * x) +
              x * y * (x + y) + (f + 1) * (x + 2 * y + 7)) % 250 + off),
          w, h)
      }
  }
}
