package graft

import graft.pipeline.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class PipelineSpec extends GraftSuite {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different text with unique words here"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "der hund ist nicht zu haus und das ist gut")
  ).toDF("doc_id", "text")

  test("char entropy: closed forms, collision index, unicode codepoints") {
    def ce(s: String): (Long, Int, Long, Double) = {
      val r = Seq(Tuple1(s)).toDF("t")
        .select(graft.pipeline.TextAnalysis.charEntropy(col("t")))
        .head.getStruct(0)
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    }
    assert(ce("") == ((0L, 0, 0L, 0.0)))
    assert(ce("aaaa") == ((4L, 1, 16L, 0.0)))    // single symbol: 0 nats
    val (n1, d1, c1, e1) = ce("aabb")
    assert(n1 == 4 && d1 == 2 && c1 == 8 &&
      math.abs(e1 - math.log(2)) < 1e-12)
    val (n2, d2, c2, e2) = ce("abcd")
    assert(n2 == 4 && d2 == 4 && c2 == 4 &&
      math.abs(e2 - math.log(4)) < 1e-12)
    // collision / n² is the Rényi-2 exp(−H₂): uniform → 1/d
    assert(c2.toDouble / (n2 * n2) == 0.25)
    // non-BMP codepoint counts once (codepoints, not UTF-16 units)
    val (n3, d3, c3, _) = ce("a😀a")   // a 😀 a
    assert(n3 == 3 && d3 == 2 && c3 == 5)
    // invariance under symbol renaming
    assert(ce("xxyz")._4 == ce("aabc")._4)
  }

  test("audio energy hash: gain invariance, short-clip drop, bit layout") {
    import graft.pipeline.MediaFixtures
    def clip(id: Long, samples: Array[Int]) =
      Multimodal.MediaRow(id, "audio/wav",
        MediaFixtures.wavSamples(16000, samples), 0, 0)
    val base = Array.tabulate(200)(i => (i * i * 3 + i * 5) % 1499 - 749)
    val ds = spark.createDataset(Seq(
      clip(0, base),
      clip(1, base.map(_ * 3)),            // 3x gain: identical hash
      clip(2, base.map(-_)),               // inversion: energies equal too
      clip(3, Array.tabulate(64)(i => i))  // < 65 samples: dropped
    ))
    val hs = Multimodal.audioEnergyHash(ds).collect().sortBy(_.media_id)
    assert(hs.map(_.media_id).toSeq == Seq(0L, 1L, 2L))
    assert(hs(0).ahashBits == hs(1).ahashBits)
    assert(hs(0).ahashBits == hs(2).ahashBits)
    assert(hs(0).ahash == f"${hs(0).ahashBits}%016x")
    // a hand-built two-level clip: energy strictly rises then falls
    val rise = Array.tabulate(130)(i => if (i < 65) i % 30 else 1000 - i)
    val hr = Multimodal.audioEnergyHash(spark.createDataset(
      Seq(clip(9, rise)))).head
    assert(hr.n_samples == 130)
  }

  test("audio pairs: banded == brute force; gain-remastered copy pairs " +
      "with the original (r10 verdict #2)") {
    import graft.pipeline.MediaFixtures
    def clip(id: Long, samples: Array[Int]) =
      Multimodal.MediaRow(id, "audio/wav",
        MediaFixtures.wavSamples(16000, samples), 0, 0)
    val base = Array.tabulate(200)(i => (i * i * 3 + i * 5) % 1499 - 749)
    val other = Array.tabulate(260)(i => (i * i * 7 + i * 11) % 1801 - 900)
    val ds = spark.createDataset(Seq(
      clip(0, base),
      clip(1, base.map(_ * 2)), // re-mastered louder: same hash
      clip(2, other),
      clip(3, other.map(_ * 5))))
    val hs = Multimodal.audioEnergyHash(ds).collect()
    for (t <- 0 to 3) {
      val banded = Multimodal.audioEnergyHashPairs(
          Multimodal.audioEnergyHash(ds), maxHamming = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        a <- hs; b <- hs if a.media_id < b.media_id
        if java.lang.Long.bitCount(a.ahashBits ^ b.ahashBits) <= t
      } yield (a.media_id, b.media_id)).toSet
      assert(banded == brute, s"hamming<=$t")
    }
    val p0 = Multimodal.audioEnergyHashPairs(Multimodal.audioEnergyHash(ds), 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p0.contains((0L, 1L)) && p0.contains((2L, 3L)))
  }

  test("video dedup temporal shift: 1-frame-trimmed copy caught at " +
      "maxShift=2, differently-cut control stays unpaired (r10 verdict #3)") {
    import graft.pipeline.MediaFixtures
    // clips are mostly pattern A with ONE B-frame cut: the majority
    // hash is hash(A) for every clip (bands match), only the temporal
    // signature distinguishes them. clip 1 = clip 0 with the FIRST
    // frame trimmed — its tsig is clip 0's shifted right by one, which
    // the exact equality misses; clip 2 cuts at a far position (a
    // genuinely different edit) and must stay unpaired at any ±2 shift.
    val w = 16; val h = 12
    def pxA(x: Int, y: Int) = (3 * (x * x + 3 * y) + 5 * (y * y + 5 * x) +
      x * y * (x + y)) % 250
    def pxB(x: Int, y: Int) = 249 - pxA(x, y)
    def clip(id: Long, nf: Int, bAt: Int) =
      Multimodal.MediaRow(id, "image/gif",
        MediaFixtures.gifFrames(w, h, nf, (f, x, y) =>
          if (f == bAt) pxB(x, y) else pxA(x, y)), w, h)
    val ds = spark.createDataset(Seq(
      clip(0, 9, 3),  // A A A B A A A A A
      clip(1, 8, 2),  // clip 0 minus its first frame
      clip(2, 9, 6))) // different cut position
    val hs = Multimodal.videoDHash(ds)
      .collect()
    val byId = hs.map(v => v.media_id -> v).toMap
    assert(byId(0L).vhashBits == byId(1L).vhashBits) // majority = hash(A)
    assert(byId(1L).tsig == (byId(0L).tsig >>> 1)) // the trim IS a shift
    def pairs(shift: Int) = Multimodal.videoDHashPairs(
        Multimodal.videoDHash(ds),
        maxShift = shift)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!pairs(0).contains((0L, 1L))) // exact equality misses the trim
    val shifted = pairs(2)
    assert(shifted.contains((0L, 1L)), s"trimmed copy not caught: $shifted")
    assert(!shifted.contains((0L, 2L)) && !shifted.contains((1L, 2L)),
      s"differently-cut control false-paired: $shifted")
    // zero new false positives on the fixture corpus: the planted
    // copies are all UNtrimmed, so ±2 tolerance must not add pairs
    val fx = Multimodal.videoDHash(Multimodal.videoHashFixtures(spark, sf))
      .toDF().localCheckpoint(false)
    def fxPairs(shift: Int) = Multimodal.videoDHashPairs(
        fx.as[Multimodal.VideoHash], maxShift = shift)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fxPairs(2) == fxPairs(0),
      "shift tolerance added pairs on the untrimmed fixture corpus")
  }

  test("image dHash: banded pairs == brute force incl. hamming 1-3; " +
      "brightness-offset invariance; sub-grid images drop") {
    import graft.pipeline.MediaFixtures
    // handcrafted corpus: base pattern, +17 offset (same dHash), and
    // block-level edits that flip exactly bit 0 / bits {0,8,16} — cell
    // (0,r) participates ONLY in bit r*8, so forcing it to the extreme
    // flips a known bit set
    val w = 27; val h = 16
    def base(x: Int, y: Int) = (x * x * 3 + y * y * 5 + x * y * 7) % 200
    def img(id: Long, px: (Int, Int) => Int) =
      Multimodal.MediaRow(id, "image/png", MediaFixtures.pngPixels(w, h, px), w, h)
    def zeroCell(rows: Set[Int])(x: Int, y: Int): Int =
      if (x < w / 9 && rows.contains(y * 8 / h)) 0 else base(x, y)
    val corpus = Seq(
      img(0, base), img(1, (x, y) => base(x, y) + 17),
      img(2, zeroCell(Set(0))), img(3, zeroCell(Set(0, 3, 7))),
      img(4, (x, y) => (199 - base(x, y))),
      // sub-grid: dropped, never hashed
      Multimodal.MediaRow(5, "image/png", MediaFixtures.pngPixels(8, 7, base), 8, 7))
    val ds = spark.createDataset(corpus)
    val hashes = Multimodal.imageDHash(ds).collect().sortBy(_.media_id)
    assert(hashes.map(_.media_id).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    val byId = hashes.map(hh => hh.media_id -> hh.dhashBits).toMap
    // +k brightness: identical fingerprint, different bytes
    assert(byId(0L) == byId(1L))
    // zeroing the leftmost cell of row r can only change bit r*8
    assert(java.lang.Long.bitCount(byId(0L) ^ byId(2L)) <= 1)
    assert(((byId(0L) ^ byId(2L)) & ~(1L << 0)) == 0L)
    val mask3 = (1L << 0) | (1L << 24) | (1L << 56)
    assert(((byId(0L) ^ byId(3L)) & ~mask3) == 0L)
    // banded pairs == brute force at every threshold 0..3
    for (t <- 0 to 3) {
      val banded = Multimodal.imageDHashPairs(
          Multimodal.imageDHash(ds), maxHamming = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val brute = (for {
        a <- hashes; b <- hashes if a.media_id < b.media_id
        if java.lang.Long.bitCount(a.dhashBits ^ b.dhashBits) <= t
      } yield (a.media_id, b.media_id)).toSet
      assert(banded == brute, s"hamming<=$t")
    }
    // the planted bit-0 flip is found at t=1 when it actually flipped
    val d02 = java.lang.Long.bitCount(byId(0L) ^ byId(2L))
    if (d02 == 1) {
      val p1 = Multimodal.imageDHashPairs(Multimodal.imageDHash(ds), 1)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(p1.contains((0L, 2L)))
    }
  }

  test("image decontamination: catches re-encoded benchmark copies a " +
      "byte gate misses") {
    import graft.pipeline.MediaFixtures
    val w = 27; val h = 16
    def base(x: Int, y: Int) = (x * x * 7 + y * y * 3 + x * y * 5) % 200
    def other(x: Int, y: Int) = (x * x * 11 + y * y * 13 + x + y) % 200
    def img(id: Long, px: (Int, Int) => Int) =
      Multimodal.MediaRow(id, "image/png", MediaFixtures.pngPixels(w, h, px), w, h)
    val corpus = spark.createDataset(Seq(img(0, base), img(1, other)))
    // benchmark holds base RE-ENCODED at +9 brightness: bytes differ
    val bench = spark.createDataset(Seq(img(100, (x, y) => base(x, y) + 9)))
    assert(!java.util.Arrays.equals(
      corpus.collect()(0).bytes, bench.collect()(0).bytes))
    val dropped = Multimodal.decontaminateImages(corpus, bench)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(dropped.toSeq == Seq((0L, 100L, 0)))
  }

  test("semantic dedup: pairs equal local within-cluster brute force; survivors drop higher ids") {
    val emb = Tables.embeddings(spark, sf)
    val n = 8
    val thr = 0.25
    val pairs = Similarity.semanticPairs(emb, col("vec_id"), col("embedding"),
        nCentroids = n, threshold = thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // independent local recomputation: same md5-ordered centroid sample,
    // same nearest-centroid (ties -> larger cid), brute-force pairs
    val local = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dd += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dd / (math.sqrt(na) * math.sqrt(nb))
    }
    val centroids = local.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(n)
    def assign(v: Seq[Float]): Long =
      centroids.map { case (cid, cv) => (cosLocal(v, cv), cid) }.max._2
    val byCluster = local.groupBy { case (_, v) => assign(v) }
    val expected: Set[(Long, Long)] = byCluster.values.flatMap { members =>
      val m = members.toSeq
      for {
        (ia, va) <- m; (ib, vb) <- m
        if ia < ib && cosLocal(va, vb) >= thr
      } yield (ia, ib)
    }.toSet
    assert(pairs == expected,
      s"spark=${pairs.size} local=${expected.size} diff=${(pairs diff expected).take(3)} ${(expected diff pairs).take(3)}")
    assert(pairs.nonEmpty)

    val survivors = Similarity.semanticSurvivors(emb, col("vec_id"),
        col("embedding"), nCentroids = n, threshold = thr)
      .select("vec_id").as[Long].collect().toSet
    val droppedExpected = expected.map(_._2)
    assert(survivors == local.map(_._1).toSet -- droppedExpected)
  }

  test("two-level assignment: full probe == flat bit-identically; nprobe divergence measured") {
    // r7 verdict #1: production sizing k ≈ N/32 makes the flat argmax
    // O(N²/32) with a driver-side collect of k centroids. The two-level
    // path (coarse √k quantizer → fine-centroid JOIN on the cell id)
    // must (a) with every cell probed, reproduce the flat assignment
    // EXACTLY — same sample, same comparator, same float order — and
    // (b) at the production nProbe, diverge only by the bounded IVF
    // nprobe approximation.
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"), col("embedding").as("v"))
    val k = 64 // nCoarse = 8
    val flat = Similarity.assignClusters(base, k) // k <= flatMax -> flat
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val full = Similarity.assignClusters(base, k, flatMax = 1, nProbe = 1000,
        levels = 2)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(full == flat, {
      val d = flat.collect { case (id, c) if full.get(id) != Some(c) =>
        (id, c, full.get(id)) }.take(5)
      s"two-level full-probe diverges from flat: $d"
    })
    // production probe width: nProbe=4 of 8 cells. Agreement is the
    // documented approximation quality (SURVEY round-8): a vector only
    // misassigns when its true fine centroid's cell is NOT among the 4
    // coarse cells nearest the vector.
    val approx = Similarity.assignClusters(base, k, flatMax = 1, nProbe = 4,
      levels = 2)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(approx.keySet == flat.keySet) // no row lost in the probe join
    val agree = flat.count { case (id, c) => approx(id) == c }
    // the sf0.01 embeddings are near-random directions — the IVF
    // worst case (coarse-cell geometry carries little signal), so raw
    // assignment agreement is the documented floor, not the target
    assert(agree.toDouble / flat.size >= 0.60,
      s"nprobe=4 agreement ${agree}/${flat.size}")
    info(s"nprobe=4/8 assignment agreement: $agree/${flat.size}")
    // what dedup actually needs: NEAR-DUP pair recall. Assignment is a
    // deterministic function of the vector, so two near-identical
    // vectors share their probe ranking and argmax — they co-cluster
    // even when both are "misassigned" vs flat. The sf corpus has no
    // true near-dups (max pairwise cos ≈ 0.51), so plant them: 1000
    // seeded random directions + 60 jittered twins (cos > 0.999).
    val rnd = new scala.util.Random(0xd5ca1eL)
    val dim = 16
    def randVec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val baseVecs = (0L until 1000L).map(i => (i, randVec()))
    val twins = baseVecs.take(60).map { case (i, v) =>
      (1000L + i, v.map(x => x + (rnd.nextDouble() * 2e-4 - 1e-4).toFloat))
    }
    val planted = (baseVecs ++ twins).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val pairsFlat = Similarity.semanticPairs(planted, col("vec_id"),
        col("embedding"), nCentroids = k, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsFlat.size >= 55, s"planted dups not found: ${pairsFlat.size}")
    val pairsTL = Similarity.semanticPairs(planted, col("vec_id"),
        col("embedding"), nCentroids = k, threshold = 0.999,
        flatMax = 1, nProbe = 4, levels = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = (pairsFlat intersect pairsTL).size.toDouble / pairsFlat.size
    assert(recall >= 0.98, s"near-dup pair recall $recall " +
      s"(${(pairsFlat diff pairsTL).take(5)} missing)")
    info(s"nprobe=4/8 planted near-dup pair recall: $recall " +
      s"(${pairsTL.size} vs ${pairsFlat.size} pairs)")
  }

  test("distributed fine-centroid selection == orderBy(md5).limit(k) exactly (r10 verdict #1)") {
    // the histogram selection must pick EXACTLY the global top-k by
    // (md5(id), id) — the set the flat path, the oracles, and the old
    // TakeOrdered selection all agree on — at every boundary shape:
    // k < N (a boundary bucket pays the limit), k == N and k > N
    // (take-everything, no boundary).
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"), col("embedding").as("v"))
    val n = base.count().toInt
    for (k <- Seq(1, 7, n / 3, n - 1, n, n + 100)) {
      val expect = base
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
        .select("vec_id").as[Long].collect().toSet
      val got = Similarity.sampleIdsDistributed(base, k)
        .as[Long].collect().toSet
      assert(got == expect,
        s"k=$k: distributed selection diverges " +
          s"(missing=${(expect -- got).take(5)}, extra=${(got -- expect).take(5)})")
    }
  }

  test("three-level tree assignment: full probe == flat bit-identically; planted-twin recall at production probe") {
    // r9 verdict #1: the two-level path's O(N·√k) was the last
    // super-linear plan. The tree (k^1/3 top cells + k^2/3 mids in ONE
    // compiled expression, fine join on the mid cell) must keep the
    // same two contracts: exactness at full probe, and near-dup pair
    // recall at production probe width.
    val emb = Tables.embeddings(spark, sf)
    val base = emb.select(col("vec_id"), col("embedding").as("v"))
    val k = 64 // n1 = 4, n2 = 16
    val flat = Similarity.assignClusters(base, k)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val full = Similarity.assignClusters(base, k, flatMax = 1, nProbe = 1000,
        levels = 3)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(full == flat, {
      val d = flat.collect { case (id, c) if full.get(id) != Some(c) =>
        (id, c, full.get(id)) }.take(5)
      s"tree full-probe diverges from flat: $d"
    })
    // BOTH tree regimes agree bit-identically: the compiled
    // nearest_fine_tree expression (fine CSR on the driver, map-only)
    // and the distributed explode→join→argmax (fineExprMax = 0 forces
    // it) — same L1/L2 selection, same fine comparator
    val fullJoin = Similarity.assignClusters(base, k, flatMax = 1,
        nProbe = 1000, levels = 3, fineExprMax = 0)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(fullJoin == flat, "join-regime tree diverges from flat")
    val prExpr = Similarity.assignClusters(base, k, flatMax = 1,
        nProbe = 3, levels = 3)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val prJoin = Similarity.assignClusters(base, k, flatMax = 1,
        nProbe = 3, levels = 3, fineExprMax = 0)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(prExpr == prJoin, {
      val d = prJoin.collect { case (id, c) if prExpr.get(id) != Some(c) =>
        (id, c, prExpr.get(id)) }.take(5)
      s"expression regime diverges from join regime at nProbe=3: $d"
    })
    // no row lost in the probe joins at production width
    val approx = Similarity.assignClusters(base, k, flatMax = 1, nProbe = 4,
        levels = 3)
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(approx.keySet == flat.keySet)
    info(s"tree nprobe=4 assignment agreement: " +
      s"${flat.count { case (id, c) => approx(id) == c }}/${flat.size}")
    // planted twins co-cluster (assignment is a deterministic function
    // of the vector — the same argument as the two-level gate)
    val rnd = new scala.util.Random(0xd5ca1eL)
    val dim = 16
    def randVec(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val baseVecs = (0L until 1000L).map(i => (i, randVec()))
    val twins = baseVecs.take(60).map { case (i, v) =>
      (1000L + i, v.map(x => x + (rnd.nextDouble() * 2e-4 - 1e-4).toFloat))
    }
    val planted = (baseVecs ++ twins).map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val pairsFlat = Similarity.semanticPairs(planted, col("vec_id"),
        col("embedding"), nCentroids = k, threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsFlat.size >= 55)
    val pairsTree = Similarity.semanticPairs(planted, col("vec_id"),
        col("embedding"), nCentroids = k, threshold = 0.999,
        flatMax = 1, nProbe = 4, levels = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = (pairsFlat intersect pairsTree).size.toDouble / pairsFlat.size
    assert(recall >= 0.98, s"tree near-dup pair recall $recall " +
      s"(${(pairsFlat diff pairsTree).take(5)} missing)")
    info(s"tree nprobe=4 planted near-dup pair recall: $recall " +
      s"(${pairsTree.size} vs ${pairsFlat.size} pairs)")
  }

  test("nearest_fine_tree: empty probed fine slices THROW loudly (never a sentinel id)") {
    // fines are nearest-mid assigned, so a mid cell can own ZERO fines;
    // a vector whose every probed mid slice is empty has no candidates.
    // The expression must never emit Long.MinValue as a plausible
    // cluster id (r12 advisor) — it fails loudly. (A null + caller
    // filter was measured instead: the deterministic isnotnull pushes
    // below the Project and evaluates the compiled probe TWICE per
    // row, so the guard lives inside the expression.)
    val l1 = Array((0L, Array(1f, 0f)))
    val l2 = Array((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
    val l1Start = Array(0, 2)
    // the single fine (id 7) lives under mid 1; mid 0's slice is empty
    val l3 = Array((7L, Array(0f, 1f)))
    val l2Start = Array(0, 0, 1)
    def cidOf(v: Seq[Float]): Long =
      Seq((1L, v)).toDF("vec_id", "v")
        .withColumn("cid", graft.functions.NearestFineTree(col("v"),
          l1, l2, l1Start, 1, 1, l3, l2Start))
        .select("cid").head.getLong(0)
    assert(cidOf(Seq(0.0f, 1.0f)) == 7L)
    val e = intercept[Throwable] { cidOf(Seq(1.0f, 0.0f)) }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
    assert(msgs.contains("no fine candidates in any probed mid cell"), msgs)
  }

  test("semantic dedup: a mega-cluster (the SemDeDup skew caveat) stays correct under AQE") {
    // 85% of vectors land in ONE cluster: near-identical directions
    // (tiny per-id jitter) vs a scattered minority. The pinned
    // repartition(cid) exchange is maximally skewed — AQE's skew-join
    // split must keep the within-cluster pairwise exact.
    val dim = 8
    val rows = (0L until 400L).map { i =>
      val v =
        if (i % 7 != 0) {
          // bit-identical vectors: every majority row assigns to the
          // same (tie -> largest cid) centroid — one true mega-cluster
          // (sqrt rounding makes even same-direction different-magnitude
          // cosines differ in the last ulp, splitting the argmax)
          Array.tabulate(dim)(d => if (d == 0) 100f else 1f)
        } else Array.tabulate(dim)(d =>
          if (d == (i % dim).toInt) 50f + i else 0.5f)
      (i, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val thr = 0.9999
    val pairs = Similarity.semanticPairs(emb, col("vec_id"), col("embedding"),
        nCentroids = 16, threshold = thr)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // local recomputation with the same centroid/assign/cos math
    val local = rows
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def cosLocal(a: Seq[Float], b: Seq[Float]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dd += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      dd / (math.sqrt(na) * math.sqrt(nb))
    }
    val centroids = local.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(16)
    def assign(v: Seq[Float]): Long =
      centroids.map { case (cid, cv) => (cosLocal(v, cv), cid) }.max._2
    val byCluster = local.groupBy { case (_, v) => assign(v) }
    // the skew premise itself: one cluster holds >= 75% of the corpus
    assert(byCluster.values.map(_.size).max >= 300,
      byCluster.values.map(_.size).toSeq.sorted.reverse.take(3).toString)
    val expected: Set[(Long, Long)] = byCluster.values.flatMap { members =>
      val m = members.toSeq
      for {
        (ia, va) <- m; (ib, vb) <- m
        if ia < ib && cosLocal(va, vb) >= thr
      } yield (ia, ib)
    }.toSet
    assert(pairs == expected, s"spark=${pairs.size} local=${expected.size}")
    assert(pairs.size > 1000) // the mega-cluster really went pairwise
  }

  test("token counting") {
    val out = docs.select(TextAnalysis.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(out.take(2).toSeq == Seq(9, 9))
    assert(Seq("", " ").toDF("text")
      .select(TextAnalysis.tokenCount(col("text"))).collect().map(_.getInt(0)).toSeq == Seq(0, 0))
  }

  test("bpe-ish token estimate counts pieces") {
    val n = Seq("hello world, 123 foo!").toDF("text")
      .select(TextAnalysis.bpeishTokenCount(col("text"))).head.getInt(0)
    assert(n == 6) // hello| world|,| 123| foo|!
  }

  test("language id picks marker-heavy language") {
    val out = docs.select(TextAnalysis.langId(col("text")).getField("lang")).collect()
    assert(out(0).getString(0) == "en")
    assert(out(4).getString(0) == "de")
  }

  test("quality metrics and filter") {
    val m = docs.select(TextAnalysis.qualityMetrics(col("text")).as("m"))
      .select("m.n_words", "m.chars_per_word").head()
    assert(m.getInt(0) == 9)
    assert(docs.filter(TextAnalysis.qualityFilter(col("text"))).count() == 5)
    assert(Seq("x").toDF("text").filter(TextAnalysis.qualityFilter(col("text"))).count() == 0)
  }

  test("fingerprints: exact matches dups, robust survives small edits") {
    val fp = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(2L))
    val rfp = docs.select(col("doc_id"),
      TextAnalysis.robustFingerprint(col("text"), k = 8, keep = 3).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rfp(1L) == rfp(4L))
  }

  test("exact dedup survivors") {
    val surv = Dedup.exactSurvivors(docs, TextAnalysis.fingerprint(col("text")), col("doc_id"))
    assert(surv.count() == 4)
    assert(surv.filter(col("n_dups") === 2).select("survivor_id").head.getLong(0) == 1L)
    assert(Dedup.exactDropped(docs, TextAnalysis.fingerprint(col("text")), col("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("chunking: windows, overlap, short tails, sub-chunk docs") {
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // exact multi-chunk fit
      (2L, "a b c"),                                  // shorter than one chunk
      (3L, ""),                                       // no tokens -> no chunks
      (4L, (1 to 5).map(i => s"x$i").mkString(" "))   // short tail > overlap
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(corpus, col("doc_id"), col("text"),
        chunkTokens = 4, overlap = 2) // stride 2
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 (10 toks): kmax = ceil((10-4)/2) = 3; chunk 3 reaches w10
    // exactly — NO redundant start-8 tail (it would add nothing new)
    assert(out((1L, 0)) == (4L, "w1 w2 w3 w4"))
    assert(out((1L, 1)) == (4L, "w3 w4 w5 w6"))
    assert(out((1L, 3)) == (4L, "w7 w8 w9 w10"))
    assert(!out.contains((1L, 4)))
    // doc 2 (3 toks): one short chunk, intact — no tail inside it
    assert(out((2L, 0)) == (3L, "a b c"))
    assert(!out.contains((2L, 1)))
    // doc 3: dropped entirely
    assert(!out.keys.exists(_._1 == 3L))
    // doc 4 (5 toks): kmax = ceil((5-4)/2) = 1; 3-token tail (> overlap)
    assert(out((4L, 1)) == (3L, "x3 x4 x5") && !out.contains((4L, 2)))
    // every document's last chunk covers the final token
    assert(out((1L, 3))._2.endsWith("w10") && out((4L, 1))._2.endsWith("x5"))
  }

  test("trained BPE: hand-replayed merges on a planted corpus, compression, determinism") {
    // planted corpus: "low" x3 + "lower" x1 (the Sennrich example
    // shape) — with piece frequencies low:3, lower:1 (plus " low"
    // variants from the pre-tokenizer's leading-space convention)
    val corpus = Seq(
      (1L, "low low low lower"),
      (2L, "low lower")
    ).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, col("doc_id"), col("text"),
      nMerges = 4, sampleN = 10)
    // pieces: "low"(2 docs lead) freq 2, " low"(3) , " lower"(1), "lower"? doc2: "low"," lower"
    // most frequent adjacent pair across pieces: ("l","o") count 2+3+1+0... every piece contains l-o once: freqs 2+3+1 = wait pieces: "low" f2? doc1: "low", " low"x2, " lower"; doc2: "low", " lower"
    // piece freqs: "low":2, " low":2, " lower":2 -> (l,o): 2+2+2=6, (o,w): 6, ties -> (l,o) first lexicographically
    assert(merges.head == (("l", "o")), merges.toString)
    assert(merges(1) == (("lo", "w")), merges.toString) // then (lo,w) 6
    // after "low" merges: " low" has (space,low); " lower" (space,low),(low,e),(e,r)
    val out = corpus.select(col("doc_id"),
        TextAnalysis.bpeSubwordCount(col("text"), merges).as("c"))
      .select(col("doc_id"), col("c.n_pieces"), col("c.n_subwords"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: pieces [low,  low,  low,  lower]; with 4 merges "low" is one
    // symbol everywhere; " lower" depends on merges 3-4
    assert(out(1L)._1 == 4L)
    assert(out(1L)._2 < "low low low lower".length) // genuinely compressed
    // determinism: identical merge tables across trainings
    val merges2 = TextAnalysis.bpeTrain(corpus, col("doc_id"), col("text"),
      nMerges = 4, sampleN = 10)
    assert(merges == merges2)
    // zero merges degenerate to per-piece character counts
    val chars = corpus.select(
        TextAnalysis.bpeSubwordCount(col("text"), Nil).getField("n_subwords"))
      .as[Long].collect().sum
    val expChars = corpus.select(
        aggregate(TextAnalysis.bpeishTokens(col("text")), lit(0L),
          (a, p) => a + length(p).cast("long")).as("n"))
      .as[Long].collect().sum
    assert(chars == expChars)
  }

  test("BPE-mode chunking/packing: model tokens diverge from whitespace words, exact reconstruction") {
    // the sf corpus is plain lowercase words (BPE == whitespace there —
    // the oracles pin cross-engine parity); THIS corpus makes the modes
    // genuinely diverge: contractions, punctuation runs, digits,
    // multi-space
    val corpus = Seq(
      (1L, "don't stop, it's 2024!  really?"),
      (2L, "a,b,c d")
    ).toDF("doc_id", "text")
    val toks = corpus.select(col("doc_id"),
        TextAnalysis.bpeishTokens(col("text")).as("bs"),
        TextAnalysis.tokenCount(col("text")).as("wc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[String](1), r.getInt(2)))).toMap
    val (b1, w1) = toks(1L)
    assert(b1 == Seq("don", "'t", " stop", ",", " it", "'s", " 2024", "!",
      " really", "?"), b1)
    assert(w1 == 5 && b1.length == 10) // genuinely different counts
    // reconstruction: empty-sep concat == text minus extra whitespace
    assert(b1.mkString("") == "don't stop, it's 2024! really?")
    // chunking in BPE mode cuts where whitespace mode cannot
    val chunks = TextAnalysis.chunkDocuments(corpus, col("doc_id"),
        col("text"), chunkTokens = 4, overlap = 1,
        tokenizer = TextAnalysis.bpeishTokens, joinSep = "")
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getString(3))))
      .toMap
    assert(chunks((1L, 0)) == (4L, "don't stop,"))
    assert(chunks((1L, 1)) == (4L, ", it's 2024")) // mid-"word" boundary
    // last chunk reaches the final token
    assert(chunks.filter(_._1._1 == 1L).values.map(_._2).exists(_.endsWith("?")))
    // packing conservation on MODEL-token counts: every BPE token lands
    // in exactly one slice — doc 2 is "a" "," "b" "," "c" " d" (6)
    val b2 = toks(2L)._1
    assert(b2 == Seq("a", ",", "b", ",", "c", " d"), b2)
    val packed = TextAnalysis.packSequences(corpus, col("doc_id"),
        col("text"), seqLen = 4, groupSpan = 2,
        tokenCountOf = TextAnalysis.bpeishTokenCount(_).cast("long"))
      .collect()
    val perDoc = packed.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(4)).sum).toMap
    assert(perDoc(1L) == b1.length.toLong && perDoc(2L) == b2.length.toLong)
    // the 16 tokens cut into 4 full sequences: per-sequence slices tile
    // contiguously from offset 0
    assert(packed.map(_.getLong(4)).sum == 16L)
    packed.groupBy(_.getLong(1)).foreach { case (seqId, rows) =>
      val slices = rows.map(r => (r.getLong(2), r.getLong(4))).sortBy(_._1)
      assert(slices.head._1 == 0L, s"seq $seqId starts at ${slices.head._1}")
      slices.sliding(2).foreach {
        case Array((o1, n1), (o2, _)) => assert(o1 + n1 == o2, s"gap in seq $seqId")
        case _ => ()
      }
    }
  }

  test("hashed linear classifier: feature count, independent score replay") {
    val corpus = Seq(
      (1L, "the quick brown fox"), // 4 unigrams + 3 bigrams
      (2L, "solo"),                // 1 unigram, no bigrams
      (3L, "  "),                  // no features at all
      (4L, "a a a")                // repeated features accumulate
    ).toDF("doc_id", "text")
    val out = TextAnalysis.hashedLinearScore(corpus, col("doc_id"),
        col("text"), nBuckets = 4096, weightOf = b => b % 7 - 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def replay(feats: Seq[String]): Long = feats.map { f =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      val hex6 = d.take(3).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex6, 16) % 4096) % 7 - 3
    }.sum
    assert(out(1L)._1 == 7L)
    assert(out(1L)._2 == replay(Seq("the", "quick", "brown", "fox",
      "the quick", "quick brown", "brown fox")))
    assert(out(2L) == ((1L, replay(Seq("solo")))))
    assert(out(3L) == ((0L, 0L)))
    assert(out(4L) == ((5L, replay(Seq("a", "a", "a", "a a", "a a")))))
  }

  test("multi-label classifier head: decision parity, tie to smallest index, score_0 == single-score head") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "solo"),
      (3L, "  "), // no features: all scores 0 -> tie -> label 0
      (4L, "a a a b b c d e f g h i j k l m n o p")
    ).toDF("doc_id", "text")
    val ws = (0 until 3).map(l => (b: org.apache.spark.sql.Column) =>
      (b + 17 * l) % 7 - 3)
    val rows = TextAnalysis.hashedLinearLabel(corpus, col("doc_id"),
        col("text"), nBuckets = 4096, weightsOf = ws)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Seq(r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getInt(5)))).toMap
    // decision parity: returned label IS the argmax of the returned
    // scores, ties to the smallest index — for every row
    rows.values.foreach { case (_, scores, label) =>
      val best = scores.max
      assert(label == scores.indexOf(best), s"$scores -> $label")
    }
    // the all-zero tie lands on label 0
    assert(rows(3L) == ((0L, Seq(0L, 0L, 0L), 0)))
    // label 0's weight table is the single-score head's: column parity
    val single = TextAnalysis.hashedLinearScore(corpus, col("doc_id"),
        col("text"), nBuckets = 4096, weightOf = b => b % 7 - 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { case (id, (nf, scores, _)) =>
      assert(single(id) == ((nf, scores.head)), s"doc $id")
    }
  }

  test("mixture epochs: scarce domains upsample to their allocation, epochs contiguous per doc") {
    val corpus = (1 to 220).map(i =>
      (i.toLong, if (i <= 200) "web" else "rare")).toDF("doc_id", "domain")
    // rare (20 docs) gets half a 400-doc budget -> alloc 200 = 10 full
    // epochs exactly; web (200 docs) gets 200 -> one full epoch
    val out = TextAnalysis.mixtureSampleEpochs(corpus,
        col("doc_id").cast("string"), col("domain"),
        Map("web" -> 500000L, "rare" -> 500000L), budget = 400L, seed = "e")
      .select(col("doc_id"), col("domain"), col("epoch"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDomain = out.groupBy(_._2).view.mapValues(_.length).toMap
    // exact-division allocations are deterministic, no fractional epoch
    assert(byDomain("rare") == 200, byDomain.toString)
    assert(byDomain("web") == 200, byDomain.toString)
    // every copy of a doc carries a distinct contiguous epoch from 0
    out.groupBy(_._1).foreach { case (did, rows) =>
      val es = rows.map(_._3).sorted.toSeq
      assert(es == (0L until es.length), s"doc $did epochs $es")
    }
    // each rare doc appears exactly 10 times, each web doc once
    assert(out.filter(_._2 == "rare").groupBy(_._1).forall(_._2.length == 10))
    assert(out.filter(_._2 == "web").groupBy(_._1).forall(_._2.length == 1))
    // fractional allocation: rare alloc 50 over 20 docs -> 2 full epochs
    // + 10 expected extras, binomial noise bounds
    val frac = TextAnalysis.mixtureSampleEpochs(corpus,
        col("doc_id").cast("string"), col("domain"),
        Map("rare" -> 125000L), budget = 400L, seed = "e2")
      .count()
    assert(frac >= 40 && frac <= 60, frac.toString)
  }

  test("mixture sampling: target weights, clamping, unknown-domain drop") {
    val corpus = (1 to 400).map(i =>
      (i.toLong, if (i <= 300) "web" else if (i <= 390) "books" else "rare"))
      .toDF("doc_id", "domain")
    // target 50/50 web/books with budget 120: web rate 60/300, books
    // 60/90; "rare" has no allocation
    val out = TextAnalysis.mixtureSample(corpus,
        col("doc_id").cast("string"), col("domain"),
        Map("web" -> 500000L, "books" -> 500000L), budget = 120L,
        seed = "t")
      .groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!out.contains("rare"))
    // binomial noise bounds around 60/60
    assert(out("web") > 35 && out("web") < 85, out)
    assert(out("books") > 35 && out("books") < 85, out)
    // a domain with fewer docs than its allocation is taken WHOLE
    val clamped = TextAnalysis.mixtureSample(corpus,
        col("doc_id").cast("string"), col("domain"),
        Map("rare" -> 1000000L), budget = 100L, seed = "t")
      .count()
    assert(clamped == 10L) // all 10 rare docs, rate clamped at 1
    // determinism: the same inputs reproduce the same membership
    def ids() = TextAnalysis.mixtureSample(corpus,
        col("doc_id").cast("string"), col("domain"),
        Map("web" -> 500000L, "books" -> 500000L), budget = 120L,
        seed = "t").collect().map(_.getLong(0)).toSet
    assert(ids() == ids())
  }

  test("sequence packing: concat-and-cut slices, spanning docs, conservation") {
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ")),
      (2L, "x y z"),
      (3L, "   "),                                   // empty -> dropped
      (4L, (1 to 7).map(i => s"b$i").mkString(" "))
    ).toDF("doc_id", "text")
    // global stream: d1 [0,10) d2 [10,13) d4 [13,20); seqLen 8
    val out = TextAnalysis.packSequences(corpus, col("doc_id"), col("text"),
        seqLen = 8, groupSpan = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out == Set(
      (1L, 0L, 0L, 0L, 8L),  // d1 fills seq0
      (1L, 1L, 0L, 8L, 2L),  // d1 tail opens seq1
      (2L, 1L, 2L, 0L, 3L),  // d2 entirely inside seq1
      (4L, 1L, 5L, 0L, 3L),  // d4 head closes seq1
      (4L, 2L, 0L, 3L, 4L))) // d4 tail is the (short) final seq2
    // conservation: every token lands in exactly one slice
    assert(out.toSeq.map(_._5).sum == 20L)
    // every sequence but the last is exactly full
    val perSeq = out.groupBy(_._2).view.mapValues(_.toSeq.map(_._5).sum)
    assert(perSeq(0L) == 8L && perSeq(1L) == 8L && perSeq(2L) == 4L)
  }

  test("leakage-safe split: clusters never straddle splits, weights roughly hold") {
    val docsT = Tables.documents(spark, sf)
    val pairs = Dedup.simhashPairs(docsT, col("doc_id"), col("text"),
      maxHamming = 3, algo = "md5")
    val out = Dedup.leakageSafeSplit(docsT, col("doc_id"),
        pairs.select(col("id_a"), col("id_b")),
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every document exactly once
    assert(out.length == docsT.count() && out.map(_._1).distinct.length == out.length)
    // THE property: a cluster maps to exactly one split — near-dup
    // pairs can never straddle train/test
    out.groupBy(_._2).foreach { case (c, members) =>
      assert(members.map(_._3).distinct.length == 1, s"cluster $c straddles")
    }
    // multi-member clusters exist (the property is non-vacuous)
    assert(out.groupBy(_._2).exists(_._2.length > 1))
    // weights hold within sampling noise at 500 docs (md5 uniformity)
    val bySplit = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit("train") > out.length * 0.7, bySplit.toString)
    assert(bySplit.getOrElse("val", 0) + bySplit.getOrElse("test", 0)
      < out.length * 0.3, bySplit.toString)
  }

  test("pq encode: codebook rows reconstruct exactly, codes bounded, mse sane") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.pqEncode(emb, col("vec_id"), col("embedding"),
        k = 16, m = 8)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out.length == emb.count())
    // every code string is 8 codes in [0, 16)
    out.foreach { case (_, codes, mse) =>
      val cs = codes.split("_").map(_.toInt)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16))
      assert(mse >= 0.0)
    }
    // a vector that IS a codebook row is its own nearest code in every
    // subspace: zero reconstruction error
    val base = emb.select(col("vec_id"), col("embedding").as("v"))
    val cbIds = base.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(16).select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = out.filter(o => cbIds(o._1))
    assert(exact.length == 16 && exact.forall(_._3 == 0.0))
    // non-codebook vectors have strictly positive error (distinct
    // random vectors never coincide with a sample row)
    assert(out.filterNot(o => cbIds(o._1)).forall(_._3 > 0.0))
  }

  test("pq adc search: recall@10 vs exact L2 measured; query's own row ranks first") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0)
    val pq = Similarity.pqTopK(emb, col("embedding"), col("vec_id"), q, 10,
        pqK = 16, m = 8)
      .select("vec_id").as[Long].collect().toSeq
    // exact squared-L2 top-10 (the ADC ground truth)
    val exact = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        var acc = 0.0; var i = 0
        while (i < v.length) {
          val d = v(i).toDouble - q(i).toDouble; acc += d * d; i += 1
        }
        (id, acc)
      }.sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1)
    // the query vector itself: ADC(0) = sum of its own reconstruction
    // subspace errors — small; with 16 codes over this corpus it stays
    // in the returned set
    assert(pq.contains(0L), pq.toString)
    val recall = (pq.toSet intersect exact.toSet).size / 10.0
    // near-random isotropic vectors are PQ's ADVERSARIAL case (every
    // subspace cell is equally full); the sf number is recorded as the
    // documented floor, the planted-cluster gate below is the real one
    assert(recall >= 0.1, s"pq recall@10 $recall (pq=$pq exact=${exact.toSeq})")
    info(s"pq(k=16,m=8) recall@10 on the near-random sf corpus: $recall")
    // CLUSTERED corpus — what embedding spaces actually look like and
    // what PQ is for: 20 centers x 50 jittered members; the exact L2
    // top-10 for a near-center query is same-cluster, and PQ codes
    // must keep cluster mates in the same cells
    val rnd = new scala.util.Random(0xc105 + 7)
    val dim = 64
    def center(): Array[Float] =
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val centers = Seq.fill(20)(center())
    val rows = (0 until 1000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextDouble() * 0.1 - 0.05).toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val q2 = rows.head._2
    val pq2 = Similarity.pqTopK(clustered, col("embedding"), col("vec_id"),
        q2.map(x => x), 10, pqK = 64, m = 8)
      .select("vec_id").as[Long].collect().toSet
    val exact2 = rows.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - q2(i).toDouble; acc += d * d; i += 1
      }
      (id, acc)
    }.sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    val recall2 = (pq2 intersect exact2).size / 10.0
    // within a cluster the 50 members are near-equidistant from the
    // query (±0.05 jitter), so the top-10 ORDER among them is noise
    // that quantization legitimately reshuffles — the contract PQ must
    // keep is CLUSTER membership: every returned row belongs to the
    // query's cluster (id ≡ 0 mod 20), and the query row itself leads
    assert(pq2.forall(_ % 20 == 0), s"pq left the cluster: $pq2")
    assert(pq2.contains(0L))
    assert(exact2.forall(_ % 20 == 0)) // the ground truth agrees
    assert(recall2 >= 0.3, s"clustered pq recall@10 $recall2")
    info(s"pq(k=64,m=8) on the clustered corpus: recall@10 $recall2, " +
      "cluster membership 10/10")
  }

  test("ivf-pq: planted clustered corpus keeps cluster membership; probe prunes the scan") {
    // the IVF-PQ contract on a clustered space: the query's nProbe
    // cells contain its cluster, residual codes keep mates ranked in,
    // and rows outside probed cells never appear (the pruning IS the
    // point — nProbe/nCells of the corpus scanned)
    val rnd = new scala.util.Random(0x1f9 + 3)
    val dim = 64
    val centers = Seq.fill(20)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val rows = (0 until 1000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextDouble() * 0.1 - 0.05).toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val q = rows.head._2
    val got = Similarity.ivfPqTopK(clustered, col("embedding"), col("vec_id"),
        q.map(x => x), 50, nCells = 32, nProbe = 8, pqK = 64, m = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(got.contains(0L), "query row missing from its own probe")
    // every returned row is a cluster mate (id ≡ 0 mod 20)
    val mates = got.count(_ % 20 == 0)
    assert(mates >= (got.size * 9) / 10, s"ivfpq left the cluster: $got")
    // sf corpus: adversarial near-random vectors — the op still returns
    // k rows and the query's own vector ranks in
    val emb = Tables.embeddings(spark, sf)
    val q2 = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    val sfTop = Similarity.ivfPqTopK(emb, col("embedding"), col("vec_id"),
        q2, 10, nCells = 8, nProbe = 3, pqK = 16, m = 8)
      .select("vec_id").as[Long].collect()
    assert(sfTop.length == 10 && sfTop.contains(0L), sfTop.toSeq.toString)
  }

  test("semantic decontamination: planted paraphrase flags, clean rows pass, argmax tie rule") {
    val rnd = new scala.util.Random(0xdec0)
    val dim = 64
    def vec(): Seq[Float] = Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val bench = Seq((1000L, vec()), (1001L, vec())).toDF("vec_id", "embedding")
    val b0 = bench.filter(col("vec_id") === 1000L).head.getSeq[Float](1)
    // corpus: a jittered near-copy of bench vector 1000 (the paraphrased
    // leak), plus independent random rows (clean)
    val leak = b0.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat)
    val corpus = (Seq((1L, leak)) ++ (2L to 50L).map(i => (i, vec())))
      .toDF("vec_id", "embedding")
    val flagged = Dedup.semanticContamination(corpus, col("vec_id"),
        col("embedding"), bench, col("vec_id"), col("embedding"),
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(flagged.map(_._1).toSeq == Seq(1L), flagged.toSeq.toString)
    assert(flagged.head._2 == 1000L && flagged.head._3 > 0.99)
    // 64-dim random cosines never reach 0.9: nothing else flags (checked
    // by the == Seq(1L) above); at threshold -1 EVERYTHING flags with
    // its argmax — proving the argmax is total
    val all = Dedup.semanticContamination(corpus, col("vec_id"),
        col("embedding"), bench, col("vec_id"), col("embedding"),
        threshold = -1.0).count()
    assert(all == 50L)
  }

  test("semantic decontamination tree path: full probe == expression path bit-identically; plan has no cartesian") {
    // r9 verdict #7: past exprMax benchmark vectors the expression
    // would serialize the whole benchmark per task — the cell-tree path
    // keeps only k^2/3 mids driver-held. Full probe must reproduce the
    // expression path EXACTLY (same comparator, same float order).
    val emb = Tables.embeddings(spark, sf)
    val bench = emb.filter(col("vec_id") < 120)
    val corpus = emb.filter(col("vec_id") >= 120)
    def run(exprMax: Int, nProbe: Int = 1000) =
      Dedup.semanticContamination(corpus, col("vec_id"), col("embedding"),
          bench, col("vec_id"), col("embedding"), threshold = 0.2,
          exprMax = exprMax, nProbe = nProbe)
    val viaExpr = run(exprMax = 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaTree = run(exprMax = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaExpr.nonEmpty)
    assert(viaTree == viaExpr, {
      s"missing=${(viaExpr diff viaTree).take(3)} extra=${(viaTree diff viaExpr).take(3)}"
    })
    // production probe: flagged DOCS are a subset (IVF-style recall,
    // never false positives — every candidate's cosine is exact), and a
    // partially-probed doc can only report a cosine <= its true argmax
    val approx = run(exprMax = 8, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exprByDoc = viaExpr.map(t => t._1 -> t._3).toMap
    assert(approx.map(_._1).toSet.subsetOf(exprByDoc.keySet))
    approx.foreach { case (d, _, c) => assert(c <= exprByDoc(d)) }
    info(s"tree nProbe=4 doc recall: ${approx.length}/${viaExpr.size}")
    // plan gate: the tree path joins on the cell key — no cartesian,
    // no all-pairs fallback
    val plan = run(exprMax = 8).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("ccnet surprisal buckets: value-monotone partition, every bucket populated") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val out = TextAnalysis.surprisalBuckets(docs, col("doc_id"), col("text"),
        vocabSize = 16, bigramTableSize = 32, sampleN = 99)
      .select(col("surprisal_bits_avg"), col("bucket"))
      .collect().map(r => (r.getDouble(0), r.getString(1)))
    val byBucket = out.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet), byBucket.keys.toString)
    // monotone: every head value <= every middle value <= every tail
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // sampled terciles land near thirds (loose: the sample is 99 docs)
    val n = out.length.toDouble
    byBucket.foreach { case (b, vs) =>
      assert(vs.length / n > 0.10 && vs.length / n < 0.65,
        s"bucket $b has ${vs.length}/$n")
    }
  }

  test("pq trained codebook: mse improves on the sample, deterministic, recall keeps the planted gate") {
    val emb = Tables.embeddings(spark, sf)
    // iters=0 is exactly the sampled-codebook encode
    val base = Similarity.pqEncode(emb, col("vec_id"), col("embedding"),
        k = 16, m = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val it0 = Similarity.pqEncodeTrained(emb, col("vec_id"), col("embedding"),
        k = 16, m = 8, iters = 0)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(it0 == base)
    // Lloyd iterations reduce corpus-mean reconstruction error (the
    // integerized update quantizes means at 2^-20 — far below the
    // improvement it buys)
    val mse0 = base.values.map(_._2).sum / base.size
    val tr = Similarity.pqEncodeTrained(emb, col("vec_id"), col("embedding"),
        k = 16, m = 8, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    val mse2 = tr.values.map(_._2).sum / tr.size
    assert(mse2 < mse0, s"trained mse $mse2 !< sampled $mse0")
    info(f"pq corpus-mean mse: sampled $mse0%.5f -> trained(2 iters) $mse2%.5f")
    // integer-sum update => bit-deterministic training at any parallelism
    val cbA = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
      k = 16, m = 8, iters = 2)
    val cbB = Similarity.pqTrain(emb, col("vec_id"), col("embedding"),
      k = 16, m = 8, iters = 2)
    assert(cbA.length == 16 &&
      cbA.zip(cbB).forall { case (a, b) => a.sameElements(b) })
    // planted clustered corpus: the trained codebook must keep the r8
    // cluster-membership contract and not lose recall vs the sample
    val rnd = new scala.util.Random(0xc105 + 9)
    val dim = 64
    val centers = Seq.fill(20)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val rows = (0 until 1000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => x + (rnd.nextDouble() * 0.1 - 0.05).toFloat).toSeq)
    }
    val clustered = rows.toDF("vec_id", "embedding")
    val q2 = rows.head._2
    // recall at CLUSTER SIZE (@50): within the cluster the 50 members
    // are near-equidistant from the query, so top-10 ORDER among mates
    // is noise quantization legitimately reshuffles (the r8 contract);
    // @50 the exact set IS the cluster and ordering noise washes out
    def run(cb: Option[Array[Array[Float]]]): Set[Long] =
      Similarity.pqTopK(clustered, col("embedding"), col("vec_id"),
          q2.map(x => x), 50, pqK = 64, m = 8, codebook = cb)
        .select("vec_id").as[Long].collect().toSet
    val exact2 = rows.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) {
        val d = v(i).toDouble - q2(i).toDouble; acc += d * d; i += 1
      }
      (id, acc)
    }.sortBy { case (id, dd) => (dd, id) }.take(50).map(_._1).toSet
    assert(exact2.forall(_ % 20 == 0)) // ground truth: the whole cluster
    val sampled = run(None)
    val trainedCb = Similarity.pqTrain(clustered, col("vec_id"),
      col("embedding"), k = 64, m = 8, iters = 2)
    val trained = run(Some(trainedCb))
    assert(trained.forall(_ % 20 == 0), s"trained pq left the cluster: $trained")
    assert(trained.contains(0L))
    val rS = (sampled intersect exact2).size
    val rT = (trained intersect exact2).size
    assert(rT >= rS, s"trained recall $rT < sampled $rS")
    info(s"planted-corpus recall@50: sampled $rS/50, trained $rT/50")
    // and the quantity Lloyd optimizes — planted-corpus reconstruction
    // error — must improve on the sample
    def plantedMse(cb: Array[Array[Float]]): Double =
      clustered.select(graft.functions.PqEncode(col("embedding"),
          cb.map(_.toSeq), 8).getField("mse"))
        .as[Double].collect().sum / 1000.0
    val sampledCb = clustered
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(64)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    val mseS = plantedMse(sampledCb)
    val mseT = plantedMse(trainedCb)
    assert(mseT < mseS, s"trained planted mse $mseT !< sampled $mseS")
    info(f"planted-corpus mse: sampled $mseS%.6f -> trained $mseT%.6f")
  }

  test("bigram surprisal: repeated transitions score low, gibberish high") {
    // corpus: docs 1-3 repeat the same transitions (low surprisal);
    // doc 4 is unique-word gibberish (every bigram OOV -> backoff)
    val corpus = Seq(
      (1L, "the quick fox the quick fox the quick fox"),
      (2L, "the quick fox the quick fox"),
      (3L, "the quick fox"),
      (4L, "zephyr quartz maze vortex glyph")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramSurprisal(corpus, col("doc_id"), col("text"),
        vocabSize = 16, bigramTableSize = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // doc 1: 8 bigrams, all in the table; "the"x6 over the corpus ->
    // ubits 3, the->quick cnt 6 -> bits 3-3 = 0; fox->the cnt 3 ->
    // 3-2 = 1 (two such positions) => avg 2/8
    assert(out(1L)._1 == 8 && out(1L)._2 == 0)
    assert(out(1L)._3 == 0.25, out(1L).toString)
    // doc 4: every bigram unseen elsewhere BUT present once in the
    // top-16 table (tiny corpus) -> bits ubits(1)-bits(1) = 0; its
    // words are singletons outside the top-16 vocab -> ubits = 1
    assert(out(4L)._1 == 4)
    // the gibberish doc scores STRICTLY higher than the repeated one
    // once its bigrams fall out of the table: shrink the table so only
    // the frequent transitions survive
    val tight = TextAnalysis.bigramSurprisal(corpus, col("doc_id"), col("text"),
        vocabSize = 16, bigramTableSize = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(tight(4L)._1 == 4) // all four gibberish bigrams OOV
    assert(tight(4L)._2 > tight(1L)._2, s"$tight")
  }

  test("word shingles") {
    val sh = Seq("a b c d").toDF("text")
      .select(Dedup.wordShingles(col("text"), 2)).head.getSeq[String](0)
    assert(sh == Seq("a b", "b c", "c d"))
  }

  test("minhash LSH finds the near-dup pair") {
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
      shingleK = 2, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 4L))) // exact dup always found
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash hamming pairs") {
    val pairs = Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash banded pairs equal brute force at maxHamming=8 (pigeonhole recall)") {
    val docsT = Tables.documents(spark, sf)
    for (algo <- Seq("xxh64", "md5")) {
      val sigs = docsT.select(col("doc_id").as("id"),
        Dedup.simhash(col("text"), algo).as("sig"))
      val brute = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .crossJoin(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        .filter(col("hamming") <= 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val banded = Dedup.simhashPairs(docsT, col("doc_id"), col("text"),
          maxHamming = 8, algo = algo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"recall/precision mismatch for $algo")
      // the corpus must actually exercise the 4..8 range the old 4-chunk
      // banding missed, or this test proves nothing
      assert(brute.exists(_._3 >= 4), s"corpus has no hamming 4-8 pairs ($algo)")
    }
  }

  test("simhash128 banded pairs equal brute force at maxHamming=8 (14-bit chunks)") {
    val docsT = Tables.documents(spark, sf)
    for (algo <- Seq("xxh64", "md5")) {
      val sigs = docsT.select(col("doc_id").as("id"),
        Dedup.simhash128(col("text"), algo).as("sig"))
        .select(col("id"), col("sig").getItem(0).as("lo"), col("sig").getItem(1).as("hi"))
      val brute = sigs.select(col("id").as("id_a"), col("lo").as("lo_a"), col("hi").as("hi_a"))
        .crossJoin(sigs.select(col("id").as("id_b"), col("lo").as("lo_b"), col("hi").as("hi_b")))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
            bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("int").as("hamming"))
        .filter(col("hamming") <= 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val banded = Dedup.simhashPairs128(docsT, col("doc_id"), col("text"),
          maxHamming = 8, algo = algo)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute, s"recall/precision mismatch for $algo (128-bit)")
    }
  }

  test("production xxh64 simhash r=3 banded equals brute force") {
    val docsT = Tables.documents(spark, sf)
    val sigs = docsT.select(col("doc_id").as("id"),
      Dedup.simhash(col("text"), "xxh64").as("sig"))
    val brute = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
      .crossJoin(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashPairs(docsT, col("doc_id"), col("text"),
        maxHamming = 3, algo = "xxh64")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == brute)
  }

  test("minhash signature from pre-hashed shingles is bit-identical") {
    // the r8 hashed-corpus pipeline rests on Spark's xxhash64 (seed 42)
    // being the signature chain's h0 — assert it over the real corpus
    val docsT = Tables.documents(spark, sf)
    val both = docsT.select(
        Dedup.wordShingles(col("text"), 3).as("sh"))
      .select(
        graft.functions.MinHashSig(col("sh"), 32, "xxh64").as("a"),
        graft.functions.MinHashSigFromLongs(
          transform(col("sh"), s => xxhash64(s)), 32).as("b"))
      .filter(not(col("a") === col("b")))
    assert(both.count() == 0)
  }

  test("production xxh64 minhash: exact precision, full recall at high jaccard") {
    val docsT = Tables.documents(spark, sf)
    // exact all-pairs jaccard over 3-shingles (test scale only)
    val sh = docsT.select(col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 3).as("sh"))
    val exact = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sh.select(col("id").as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("j"))
      .filter(col("j") >= 0.7)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val prod = Dedup.minhashPairs(docsT, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.7,
        algo = "xxh64", hashBandKeys = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision is exact by construction (candidates are verified with
    // exact jaccard): every reported pair must be a true >=0.7 pair
    prod.foreach { case (p, j) =>
      assert(exact.contains(p) && math.abs(exact(p) - j) < 1e-9, s"false positive $p")
    }
    // recall: at 8 bands x 4 rows, P[miss | j=0.9] = (1-0.9^4)^8 ~ 2e-5;
    // deterministic hashes + fixed corpus make this a regression test,
    // not a flaky probabilistic one
    val high = exact.filter(_._2 >= 0.9).keySet
    assert(high.nonEmpty, "corpus has no >=0.9 jaccard pairs")
    assert(high.forall(prod.contains), s"missed high-jaccard pairs: ${high -- prod.keySet}")
  }

  test("incremental minhash admission == the pairwise rule composed from minhashPairs") {
    val docsT = Tables.documents(spark, sf)
    def isWave(idv: Long) = idv % 10 == 0
    val cachedBefore =
      org.apache.spark.sql.graftbridge.ColumnBridge.cachedPlanCount(spark)
    val admitted = Dedup.minhashIncrementalAdmitted(
        docsT.filter(col("doc_id") % 10 === 0),
        docsT.filter(col("doc_id") % 10 =!= 0),
        col("doc_id"), col("text"), shingleK = 3, numHashes = 32,
        bands = 8, threshold = 0.7, algo = "xxh64")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // cache hygiene (r16): the broadcast regime persists the signed wave
    // and the candidate set while computing the reject list, and must
    // release BOTH before returning — a per-wave ingestion loop must not
    // accumulate CacheManager entries (r15 ADVICE medium)
    assert(org.apache.spark.sql.graftbridge.ColumnBridge.cachedPlanCount(spark)
      <= cachedBefore,
      "minhashIncremental left cached plans pinned after the wave")
    // reference rule from the batch pair list over the union (same
    // signature family => identical band candidates): a wave doc is
    // rejected when paired with a corpus doc or a smaller wave doc
    val pairs = Dedup.minhashPairs(docsT, col("doc_id"), col("text"),
        shingleK = 3, numHashes = 32, bands = 8, threshold = 0.7,
        algo = "xxh64")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rejected = pairs.flatMap { case (a, b) => // always a < b
      if (isWave(a) && !isWave(b)) Seq(a)
      else if (!isWave(a) && isWave(b)) Seq(b)
      else if (isWave(a) && isWave(b)) Seq(b)
      else Seq.empty
    }.toSet
    val waveIds = docsT.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(waveIds.nonEmpty && rejected.nonEmpty,
      s"degenerate fixture: ${waveIds.size} wave / ${rejected.size} rejected")
    assert(admitted == waveIds -- rejected,
      s"extra=${admitted -- (waveIds -- rejected)} missing=${(waveIds -- rejected) -- admitted}")
    // big-wave fallback: a wave over maxBroadcastWave must not be
    // force-broadcast (a 5M-doc wave aborted on driver.maxResultSize at
    // the sf1000p decade) — the unhinted join path must admit the SAME
    // set
    val admittedBig = Dedup.minhashIncrementalAdmitted(
        docsT.filter(col("doc_id") % 10 === 0),
        docsT.filter(col("doc_id") % 10 =!= 0),
        col("doc_id"), col("text"), shingleK = 3, numHashes = 32,
        bands = 8, threshold = 0.7, algo = "xxh64", maxBroadcastWave = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admittedBig == admitted,
      s"fallback diverged: extra=${admittedBig -- admitted} missing=${admitted -- admittedBig}")
  }

  test("contamination flags: distinct gram overlap, benchmark broadcast") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely novel content with no overlap at all here"),
      (3L, "the quick brown fox jumps elsewhere and the lazy dog sleeps")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "watch the quick brown fox jumps over everything"),
      (101L, "beware the lazy dog sleeps")).toDF("doc_id", "text")
    val out = Dedup.contaminationFlags(train, col("doc_id"), col("text"),
        bench, col("text"), k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "the quick brown fox", "quick brown fox jumps",
    // "brown fox jumps over" with b100
    assert(out(1L) == 3L, out.toString)
    assert(!out.contains(2L))
    assert(out.contains(3L)) // "the lazy dog sleeps" via b101
    val plan = Dedup.contaminationFlags(train, col("doc_id"), col("text"),
      bench, col("text"), k = 4).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("stratified hash sample: per-stratum rates, deterministic membership") {
    val df = (1 to 4000).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val picked = df.filter(TextAnalysis.stratifiedHashSample(
        col("id").cast("string"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.0, seed = "x"))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(picked("en") - 1000L) < 150, picked.toString) // 2000 * 0.5
    assert(math.abs(picked("de") - 200L) < 80, picked.toString)   // 2000 * 0.1
    // deterministic: same seed, same membership
    val again = df.filter(TextAnalysis.stratifiedHashSample(
        col("id").cast("string"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.0, seed = "x"))
      .agg(sum("id")).head.getLong(0)
    val first = df.filter(TextAnalysis.stratifiedHashSample(
        col("id").cast("string"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.1), defaultRate = 0.0, seed = "x"))
      .agg(sum("id")).head.getLong(0)
    assert(again == first)
  }

  test("dedup clusters: chains close transitively, survivors are minima") {
    // chain 1-2-3 (diameter 2 — needs >1 propagation round), pair 10-11,
    // triangle 20-21-22 with redundant edges
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (20L, 22L)).toDF("id_a", "id_b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)
    // both paths must agree: driver union-find (default) and the
    // distributed propagation (forced via maxLocalEdges = 0)
    val cc = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expected)
    val ccDist = Dedup.dedupClusters(pairs, maxLocalEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist == expected)
    val surv = Dedup.clusterSurvivors(Dedup.dedupClusters(pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(surv == Set((1L, 3L, Seq(1L, 2L, 3L)), (10L, 2L, Seq(10L, 11L)),
      (20L, 3L, Seq(20L, 21L, 22L))))
    // a long chain exercises distributed convergence well past diameter 2
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainCc = Dedup.dedupClusters(chain, maxLocalEdges = 0).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainCc.values.toSet == Set(1L) && chainCc.size == 12)
  }

  test("dedup clusters: distributed path converges on diameter >> round budget") {
    // a 120-hop path: one-hop hash-min would need 120 rounds — the old
    // maxIters=20 silently returned under-merged components here. The
    // hook+shortcut scheme must close it in O(log d) rounds, well
    // inside the default budget; include a second component to prove
    // labels don't bleed across clusters while jumping.
    val path = (1L until 121L).map(i => (i, i + 1)) ++
      Seq((500L, 501L), (501L, 502L))
    val cc = Dedup.dedupClusters(path.toDF("id_a", "id_b"), maxLocalEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 124)
    assert((1L to 121L).forall(cc(_) == 1L), cc.filter(_._2 != 1L).toString)
    assert(Seq(500L, 501L, 502L).forall(cc(_) == 500L))
    // and when the budget genuinely runs out, it must fail LOUDLY, not
    // return wrong components
    val err = intercept[IllegalArgumentException] {
      Dedup.dedupClusters(path.toDF("id_a", "id_b"), maxIters = 1,
        maxLocalEdges = 0).collect()
    }
    assert(err.getMessage.contains("did not converge"))
  }

  test("embedding LSH planes sizing and bucket occupancy sanity") {
    // the log2(N/bucket) rule
    assert(Dedup.planesFor(1L << 30, 1024) == 20)
    assert(Dedup.planesFor(256, 1024) == 4)   // clamp low
    assert(Dedup.planesFor(Long.MaxValue, 1) == 62) // clamp high
    // occupancy: with planes sized for the corpus, no bucket may hold a
    // degenerate share of vectors (the silent-collapse failure mode the
    // dim check + this assertion guard against)
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val planes = Dedup.planesFor(n, targetBucket = math.max(8, n / 32))
    val occ = emb.select(Similarity.hyperplaneBucket(
        col("embedding"), planes, seed = 42, dim = 64).as("b"))
      .groupBy("b").count().agg(max("count")).head.getLong(0)
    assert(occ < n / 2, s"degenerate bucket: $occ of $n in one bucket")
  }

  test("compiled HyperplaneBuckets == HOF hyperplaneBucket per table (bit-identical) + loud dim check") {
    // the compiled signer is what dedup_embedding_prod ships at scale;
    // the HOF chain is the oracle-replayable reference form — they must
    // agree bit-for-bit on the real corpus for every table
    val emb = Tables.embeddings(spark, sf)
    val tables = 4
    val planes = 9
    val hof = emb.select(col("vec_id"), array((0 until tables).map(t =>
      Similarity.hyperplaneBucket(col("embedding"), planes, 42L + t, 64)): _*).as("bs"))
    val compiled = emb.select(col("vec_id"), graft.functions.HyperplaneBuckets(
      col("embedding"), 42L, planes, tables, 64).as("bs"))
    val diff = hof.as("h").join(compiled.as("c"), Seq("vec_id"))
      .filter(col("h.bs") =!= col("c.bs")).count()
    assert(diff == 0, s"$diff vectors sign differently compiled vs HOF")
    // a wrong dim must fail loudly, not zero-pad into one bucket
    val err = intercept[Exception] {
      emb.select(graft.functions.HyperplaneBuckets(
        col("embedding"), 42L, 4, 1, 63)).collect()
    }
    assert(err.getMessage != null)
  }

  test("ngram jaccard pairs exact values") {
    val pairs = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleK = 2, threshold = 0.2, maxDocFreq = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)))
    val j12 = pairs((1L, 2L))
    assert(j12 > 0.5 && j12 < 1.0) // 7 common shingles of 9 -> 7/(8+8-7)
  }

  test("ngram jaccard DF cap plan: partial agg + broadcast anti-join, no Window") {
    val plan = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
      shingleK = 2, threshold = 0.2, maxDocFreq = 100)
      .queryExecution.executedPlan.toString
    // skew safety at scale: the cap computes per-shingle counts with a
    // map-side-combinable aggregate and removes over-cap shingles via a
    // broadcast anti-join -- never a Window over the raw posting list
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.toLowerCase.contains("partial_count") || plan.contains("partial"), plan)
  }

  test("embedding cosine + brute force topk") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, col("embedding"), col("vec_id"),
      Seq(1.0f, 0.0f, 0.0f), 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(top(0).getDouble(1) == 1.0)
  }

  test("lsh topk returns the query's own bucket neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head.getSeq[Float](0)
    val brute = Similarity.bruteForceTopK(emb, col("embedding"), col("vec_id"), q, 5)
      .collect().map(_.getLong(0))
    val lsh = Similarity.lshTopK(emb, col("embedding"), col("vec_id"), q, 5, planes = 4)
      .collect().map(_.getLong(0))
    assert(brute.head == 0L && lsh.head == 0L) // query finds itself
    assert(lsh.nonEmpty)
  }

  test("ivf topk probes nearest lists and finds the query vector") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val ivf = Similarity.ivfTopK(emb, col("embedding"), col("vec_id"), q, 5,
      nCentroids = 8, nProbe = 3).collect()
    assert(ivf.head.getLong(0) == 0L)
  }

  test("ann recall@10 >= 0.9 vs brute force at sf0.1 (lsh multi-table, ivf probes)") {
    val dir = "/root/testdata/sf0.1"
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val brute = Similarity.bruteForceTopK(emb, col("embedding"), col("vec_id"), q, 10)
      .collect().map(_.getLong(0)).toSet
    // near-random 64-dim embeddings are LSH's worst case (top-10 cosines
    // ~0.4-0.5): recall comes from OR-amplification across tables
    val lsh = Similarity.lshTopK(emb, col("embedding"), col("vec_id"), q, 10,
      planes = 4, seed = 42, tables = 16).collect().map(_.getLong(0)).toSet
    assert((brute & lsh).size >= 9, s"lsh recall ${(brute & lsh).size}/10")
    val ivf = Similarity.ivfTopK(emb, col("embedding"), col("vec_id"), q, 10,
      nCentroids = 16, nProbe = 12).collect().map(_.getLong(0)).toSet
    assert((brute & ivf).size >= 9, s"ivf recall ${(brute & ivf).size}/10")
  }

  test("ivf kmeans refinement yields valid centroids and finds the query") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0)
    val ivf = Similarity.ivfTopK(emb, col("embedding"), col("vec_id"), q, 5,
      nCentroids = 4, nProbe = 2, kmeansIters = 2).collect()
    assert(ivf.head.getLong(0) == 0L)
  }

  test("patternize mines literal/wildcard templates with support") {
    val logs = Seq(
      "login ok user alice", "login ok user bob", "login ok user carol",
      "disk full on sda1", "disk full on sdb2",
      "single unique line here").toDF("message")
    val mined = graft.patterndb.Patternize.mine(logs, col("message"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mined("login ok user @ANYSTRING@") == 3L)
    assert(mined("disk full on @ANYSTRING@") == 2L)
    assert(mined("single unique line here") == 1L)
    // HLL path only decides literal-vs-wildcard; same templates here
    val approx = graft.patterndb.Patternize.mine(logs, col("message"),
      approxDistinct = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx == mined)
  }

  test("patternize frequent words: position keys, delimiter set, support cut (test_patternize.c:101-148)") {
    def words(logs: Seq[String], support: Long) =
      graft.patterndb.Patternize.frequentWords(logs.toDF("message"),
          col("message"), support)
        .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
        .toMap
    assert(words(Seq("a"), 0) == Map((0, "a") -> 1L))
    assert(words(Seq("a b"), 0) == Map((0, "a") -> 1L, (1, "b") -> 1L))
    // position-keyed: "a a"/"b b" do NOT merge across positions
    assert(words(Seq("a a", "b b"), 0) == Map((0, "a") -> 1L,
      (1, "a") -> 1L, (0, "b") -> 1L, (1, "b") -> 1L))
    assert(words(Seq("a b", "b a"), 0) == Map((0, "a") -> 1L,
      (1, "a") -> 1L, (0, "b") -> 1L, (1, "b") -> 1L))
    assert(words(Seq("a b", "a b"), 0) == Map((0, "a") -> 2L, (1, "b") -> 2L))
    // support removes count < support (patternize.c:93-96)
    assert(words(Seq("a b", "b a", "a c"), 2) == Map((0, "a") -> 2L))
    // the delimiter SET splits on any member char
    assert(words(Seq("a:b,c d"), 0) == Map((0, "a") -> 1L, (1, "b") -> 1L,
      (2, "c") -> 1L, (3, "d") -> 1L))
    // adjacent delimiters produce positioned EMPTY tokens, counted
    // like words (g_strsplit_set semantics)
    assert(words(Seq("a  b"), 0) == Map((0, "a") -> 1L, (1, "") -> 1L,
      (2, "b") -> 1L))
  }

  test("multimodal stub decode keeps schema and determinism") {
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val feats = Multimodal.extractFeatures(media)
    val r1 = feats.filter(col("media_id") === 0).head()
    val r2 = feats.filter(col("media_id") === 0).head()
    assert(r1.checksum == r2.checksum)
    assert(r1.feature.length == 8)
    assert(r1.n_bytes > 0)
  }

  test("repetition metrics: top bigram coverage, dup trigrams, type-token ratio") {
    // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] → top "b a"? no:
    // "a b" ×3, "b a" ×2 → top = ("a b", 3); chars = 3*3/11
    // trigrams = [a b a, b a b, a b a, b a b] → all duplicated → 1.0
    // distinct ratio = 2/6
    val m = Seq("a b a b a b").toDF("text")
      .select(TextAnalysis.repetitionMetrics(col("text")).as("m"))
      .select("m.top_bigram_frac", "m.dup_trigram_frac", "m.distinct_ratio")
      .head()
    assert(math.abs(m.getDouble(0) - 3.0 * 3 / 11) < 1e-12)
    assert(m.getDouble(1) == 1.0)
    assert(math.abs(m.getDouble(2) - 2.0 / 6) < 1e-12)
    // no repetition: unique words → dup fraction 0, ttr 1
    val u = Seq("one two three four").toDF("text")
      .select(TextAnalysis.repetitionMetrics(col("text")).as("m"))
      .select("m.dup_trigram_frac", "m.distinct_ratio").head()
    assert(u.getDouble(0) == 0.0 && u.getDouble(1) == 1.0)
    // degenerate inputs never throw and yield zeros
    val z = Seq("", "solo", "two words").toDF("text")
      .select(TextAnalysis.repetitionMetrics(col("text")).as("m"))
      .select("m.top_bigram_frac", "m.dup_trigram_frac").collect()
    assert(z.forall(r => r.getDouble(0) >= 0.0 && r.getDouble(1) == 0.0))
  }

  test("pii redaction: emails, ips, digit runs, stage-ordered counts") {
    val r = Seq("mail bob.smith+x@corp.example.org from 192.168.1.200 card 4111111111111111 ok")
      .toDF("text").select(TextAnalysis.piiRedact(col("text")).as("p"))
      .select("p.redacted", "p.n_emails", "p.n_ips", "p.n_digit_runs").head()
    assert(r.getString(0) == "mail <EMAIL> from <IP> card <NUM> ok")
    assert(r.getInt(1) == 1 && r.getInt(2) == 1 && r.getInt(3) == 1)
    // an email's dotted domain is not double-counted as an IP, and an
    // IP's digits are not counted as a digit run
    val r2 = Seq("a1.2.3.4@h5.6.7.example then 10.0.0.1")
      .toDF("text").select(TextAnalysis.piiRedact(col("text")).as("p"))
      .select("p.n_emails", "p.n_ips", "p.n_digit_runs").head()
    assert(r2.getInt(0) == 1 && r2.getInt(1) == 1 && r2.getInt(2) == 0)
    // clean text untouched
    val clean = Seq("no pii here at all").toDF("text")
      .select(TextAnalysis.piiRedact(col("text")).getField("redacted")).head.getString(0)
    assert(clean == "no pii here at all")
  }

  test("best-per-cluster: quality survivor with min-id tie-break") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("id", "component")
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (9L, 5L))
      .toDF("id", "score")
    val out = Dedup.bestPerCluster(clusters, scores)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3))).toSeq
    // cluster 1: ids 2 and 3 tie at 30 → min id 2 survives
    // cluster 7: ids 7 and 9 tie at 5 → 7 survives
    assert(out == Seq((1L, false), (2L, true), (3L, false),
      (7L, true), (9L, false)))
    // unscored members still appear (left join) and sort last
    val partial = Dedup.bestPerCluster(clusters,
        Seq((1L, 10L)).toDF("id", "score"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3))).toSeq
    assert(partial == Seq((1L, true), (2L, false), (3L, false),
      (7L, true), (9L, false)))
  }

  test("best-per-cluster edge cases: MinValue scores, null components") {
    // a legitimate Double.MinValue score must BEAT a null score (the
    // old sentinel encoding collided them), and a null-component
    // member is its own survivor instead of being dropped by the
    // winner join
    val clusters = Seq((1L, Some(1L)), (2L, Some(1L)), (5L, None))
      .toDF("id", "component")
    val scores = Seq((1L, Some(Double.MinValue)), (2L, None), (5L, None))
      .toDF("id", "score")
    val out = Dedup.bestPerCluster(clusters, scores)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(3))).toSeq
    assert(out == Seq((1L, true), (2L, false), (5L, true)))
    // string ids are rejected loudly (the tie-break negates ids)
    intercept[IllegalArgumentException] {
      Dedup.bestPerCluster(
        Seq(("a", 1L)).toDF("id", "component"),
        Seq(("a", 1.0)).toDF("id", "score"))
    }
  }

  test("duplicated spans: cross-doc windows counted per occurrence") {
    val corpus = Seq(
      (1L, "a b c d e x y z"),     // "a b c" shared with doc 2
      (2L, "q a b c r s t u"),
      (3L, "n o p n o p n o"),     // internal repeats only — no cross-doc
      (4L, "totally unique words here none shared")).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(corpus, col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc1 windows: [a b c, b c d, c d e, d e x, e x y, x y z] → 1 dup
    // doc2 windows: [q a b, a b c, b c r, …] → 1 dup; docs 3,4 none
    assert(out == Seq((1L, 1L), (2L, 1L)))
    // a window duplicated WITHIN one doc only does not count, but if it
    // also appears in another doc, every occurrence counts
    val corpus2 = Seq(
      (1L, "a b c a b c"),          // "a b c" twice + bridging windows
      (2L, "z a b c z")).toDF("doc_id", "text")
    val out2 = Dedup.duplicatedSpans(corpus2, col("doc_id"), col("text"), k = 3)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc1 windows: [a b c, b c a, c a b, a b c] → "a b c" ×2 cross-doc
    // doc2 windows: [z a b, a b c, b c z] → 1
    assert(out2 == Seq((1L, 2L), (2L, 1L)))
  }

  test("shard packing: distributed prefix sum matches sequential fill") {
    // token counts 3,4,5,2,6 with budget 8: exclusive cums 0,3,7,12,14
    // → shards 0,0,0,1,1
    val corpus = Seq(
      (10L, "a b c"), (20L, "a b c d"), (30L, "a b c d e"),
      (40L, "a b"), (50L, "a b c d e f")).toDF("doc_id", "text")
    // bucketWidth=25 splits ids {10,20} | {30,40} | {50} across buckets,
    // so the bucket-offset path is genuinely exercised
    val out = TextAnalysis.packShards(corpus, col("doc_id"), col("text"),
        budgetTokens = 8L, bucketWidth = 25L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 0L, 0L), (20L, 3L, 0L), (30L, 7L, 0L),
      (40L, 12L, 1L), (50L, 14L, 1L)))
  }

  test("dedupLines: first occurrence survives, short lines exempt, empty docs vanish") {
    val corpus = Seq(
      (1L, "keep me\nboilerplate\n\nunique one"),
      (2L, "boilerplate\nsecond doc\n\nkeep me"),
      (3L, "boilerplate\nkeep me")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    // doc 1 keeps everything (all first occurrences); doc 2 loses the
    // repeats but keeps its empty separator (length < 1 never dedups);
    // doc 3 is nothing but repeats and vanishes entirely
    assert(out.toSeq == Seq(
      (1L, "keep me\nboilerplate\n\nunique one"),
      (2L, "second doc\n")), out.toSeq)
    // a doc made ENTIRELY of repeats disappears
    val corpus2 = Seq((1L, "dup line"), (2L, "dup line")).toDF("doc_id", "text")
    val out2 = Dedup.dedupLines(corpus2, col("doc_id"), col("text"))
      .select("doc_id").collect().map(_.getLong(0))
    assert(out2.toSeq == Seq(1L))
  }

  test("unigramQuality: bit-length scoring, vocab cutoff marks OOV") {
    val corpus = Seq(
      (1L, "the the the the rare"),
      (2L, "the the word word")).toDF("doc_id", "text")
    // counts: the=6, word=2, rare=1; vocabSize=2 keeps {the, word}
    val out = TextAnalysis.unigramQuality(corpus, col("doc_id"), col("text"),
        vocabSize = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 1: 4×the (bits of 6 = 3) + 1 OOV (1) → 13/5; doc 2: 2×3 + 2×2 → 10/4
    assert(out.toSeq == Seq((1L, 5L, 1L, 13.0 / 5), (2L, 4L, 0L, 10.0 / 4)),
      out.toSeq)
  }

  test("salient terms: rational tf-idf, deterministic top-k") {
    val corpus = Seq(
      (1L, "apple apple banana common common"),
      (2L, "banana cherry common common common"),
      (3L, "common words only common words")).toDF("doc_id", "text")
    val out = TextAnalysis.salientTerms(corpus, col("doc_id"), col("text"), topK = 2)
      .orderBy(col("doc_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(5)))
    // doc 1: apple tf=2 df=1 → score 6; banana tf=1 df=2 → 1.5; common 2/3 → 2
    assert(out.toSeq.take(2) == Seq((1L, "apple", 1), (1L, "common", 2)))
    // doc 2: cherry 1/1 → 3; common 3/3 → 3 — tie broken by term asc
    assert(out.toSeq.slice(2, 4) == Seq((2L, "cherry", 1), (2L, "common", 2)))
  }

  test("normalizeUrl: scheme/host case, www, default ports, params, fragment") {
    import graft.pipeline.Urls
    val cases = Seq(
      // messy → canonical
      ("HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&b=2&a=1#frag",
        "https://example.com/A/B?a=1&b=2"),
      ("http://example.com:80/", "http://example.com"),
      // non-default port kept
      ("http://example.com:8080/x", "http://example.com:8080/x"),
      // userinfo stripped, tracking-only query drops its '?'
      ("https://user:pw@Host.com/p?gclid=abc", "https://host.com/p"),
      // empty path, no query
      ("https://example.org", "https://example.org"),
      // fbclid among kept params
      ("https://e.com/p?z=1&fbclid=X&y=2", "https://e.com/p?y=2&z=1"),
      // www kept inside the host tail
      ("https://a.www.example.com/x", "https://a.www.example.com/x"),
      // no host → null
      ("not a url", null),
      ("", null))
    val got = cases.map(_._1).toDF("u")
      .select(Urls.normalizeUrl(col("u"))).collect().map(_.getString(0)).toSeq
    cases.zip(got).foreach { case ((in, want), have) =>
      assert(have == want, s"normalizeUrl($in) = $have, want $want")
    }
  }

  test("dedupByUrl keeps least id per canonical url, null urls survive") {
    import graft.pipeline.Urls
    val docs = Seq(
      (1L, "https://a.com/x?b=1&a=1"),
      (2L, "HTTPS://WWW.A.com:443/x/?a=1&b=1"), // same canonical as 1
      (3L, "https://a.com/y"),
      (4L, "garbage"), // null canonical → survives
      (5L, "https://a.com/x?a=1&b=1") // same as 1 again
    ).toDF("doc_id", "url")
    val out = Urls.dedupByUrl(docs, col("doc_id"), col("url"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L, 4L))
  }

  test("domainFilter: suffix-matched blocklist, corpus side broadcast-only") {
    import graft.pipeline.Urls
    val docs = Seq(
      (1L, "ads.tracker.com"),
      (2L, "sub.ads.tracker.com"),
      (3L, "nottracker.com"),        // substring but not a label suffix
      (4L, "news.example.org"),
      (5L, "TRACKER.COM")            // case-insensitive exact
    ).toDF("doc_id", "host")
    val bl = Seq("tracker.com").toDF("domain")
    val out = Urls.domainFilter(docs, col("doc_id"), col("host"), bl)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(3L, 4L))
    // plan: no exchange on the corpus side — both joins broadcast
    val plan = Urls.domainFilter(docs, col("doc_id"), col("host"), bl)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bloom decontamination equals the exact operator") {
    import graft.pipeline.Dedup
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa"),
      (3L, "alpha beta gamma nu xi"),      // shares a 3-gram with 1
      (37L, "alpha beta gamma delta other"), // "bench" doc (37 % 37 == 0... use explicit splits)
      (4L, "unrelated words only here now")
    ).toDF("doc_id", "text")
    val train = docs.where(col("doc_id") =!= 37L)
    val bench = docs.where(col("doc_id") === 37L)
    val exact = Dedup.contaminationFlags(train, col("doc_id"), col("text"),
      bench, col("text"), k = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bloom = Dedup.contaminationFlagsBloom(train, col("doc_id"), col("text"),
      bench, col("text"), k = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bloom == exact)
    assert(exact.nonEmpty && exact.map(_._1).contains(1L))
    // even at an absurd fpp the exact join keeps the result right
    val sloppy = Dedup.contaminationFlagsBloom(train, col("doc_id"), col("text"),
      bench, col("text"), k = 3, fpp = 0.5).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sloppy == exact)
  }

  test("audio energyGt: exact past Long overflow (long clips at full amplitude)") {
    // window energy is Σ s² ≤ 2^30·L; cross-multiplied products wrap a
    // Long for ~6-minute 16 kHz clips — the 128-bit compare must stay
    // exact. 1000·2^55 vs 999·2^55+999: both products overflow Long.
    val big = 1L << 55
    assert(Multimodal.energyGt(big, 1000L, big + 1, 999L))
    assert(!Multimodal.energyGt(big + 1, 999L, big, 1000L))
    // sweep vs BigInt ground truth across the overflow boundary
    val es = Seq(0L, 1L, (1L << 31) - 1, 1L << 40, (1L << 62) + 12345)
    val ls = Seq(1L, 2L, 65L, 100003L)
    for (e1 <- es; l1 <- ls; e0 <- es; l0 <- ls) {
      val exact = BigInt(e1) * BigInt(l1) > BigInt(e0) * BigInt(l0)
      assert(Multimodal.energyGt(e1, l1, e0, l0) == exact,
        s"($e1,$l1) vs ($e0,$l0)")
    }
  }

  test("bpeTrain: non-BMP symbols are code points, merges re-form on application") {
    // U+1D552 (𝕒) is a supplementary LETTER: the pre-tokenizer keeps
    // "𝕒b" one piece. Per-code-unit segmentation would train
    // surrogate-half symbols the code-point applier can never form.
    val s = new String(Character.toChars(0x1D552))
    val corpus = Seq((1L, s"${s}b ${s}b"), (2L, s"${s}b")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(corpus, col("doc_id"), col("text"),
      nMerges = 1, sampleN = 10)
    assert(merges.nonEmpty)
    // no trained symbol contains an UNPAIRED surrogate (a full pair is
    // fine — that IS the code point); per-code-unit segmentation made
    // the first symbols lone halves
    def wellFormed(sym: String): Boolean = {
      var i = 0
      while (i < sym.length) {
        val c = sym.charAt(i)
        if (Character.isHighSurrogate(c)) {
          if (i + 1 >= sym.length || !Character.isLowSurrogate(sym.charAt(i + 1)))
            return false
          i += 2
        } else if (Character.isLowSurrogate(c)) return false
        else i += 1
      }
      true
    }
    merges.foreach { case (x, y) =>
      assert(wellFormed(x) && wellFormed(y), merges.toString)
    }
    // application compresses: the trained merge genuinely applies
    val counts = corpus.select(
        TextAnalysis.bpeSubwordCount(col("text"), merges).getField("n_subwords"))
      .as[Long].collect()
    val untrained = corpus.select(
        TextAnalysis.bpeSubwordCount(col("text"), Nil).getField("n_subwords"))
      .as[Long].collect()
    assert(counts.sum < untrained.sum, s"${counts.toSeq} vs ${untrained.toSeq}")
  }
}
