package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sketch expressions for the dedup pipeline ops. Both exist because the
  * HOF formulations (`transform`/`aggregate` per hash function) walk the
  * token array numHashes (resp. 64) times; at 100 TB the sketch must be
  * one pass over the bytes. Seed-chained xxhash64 (one string hash per
  * element, then cheap long mixes per seed) keeps the work per token
  * O(len + numHashes) instead of O(len * numHashes).
  */
object Sketches {

  /** One pass over `shingles`: per element, h0 = xxh64(bytes, 42), then
    * the k-th hash is xxh64_long(h0, k); result = per-seed minimum.
    *
    * `algo = "md5p31"` swaps in a SQL-replicable family for oracle
    * verification: h0 = md5_lower64(shingle) >>> 33 (31 bits), k-th hash
    * = (a_k * h0 + b_k) mod (2^31 - 1) with a_k/b_k md5-derived 31-bit
    * constants — every step reproducible in DuckDB (`md5_number_lower`,
    * 64-bit products < 2^62 never overflow). Production default stays
    * the xxh64 chain (one string hash + cheap long mixes per element). */
  def minhashSig(shingles: ArrayData, numHashes: Int, algo: String): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    if (algo == "md5p31") {
      val P = 2147483647L // 2^31 - 1
      val as = new Array[Long](numHashes)
      val bs = new Array[Long](numHashes)
      var k = 0
      while (k < numHashes) {
        as(k) = (md5Lower64(UTF8String.fromString("mh_a_" + k)) >>> 33) | 1L
        bs(k) = md5Lower64(UTF8String.fromString("mh_b_" + k)) >>> 33
        k += 1
      }
      var i = 0
      while (i < n) {
        val h0 = md5Lower64(shingles.getUTF8String(i)) >>> 33
        k = 0
        while (k < numHashes) {
          val hk = (as(k) * h0 + bs(k)) % P
          if (hk < mins(k)) mins(k) = hk
          k += 1
        }
        i += 1
      }
    } else {
      var i = 0
      while (i < n) {
        val h0 = XXH64.hashUTF8String(shingles.getUTF8String(i), 42L)
        var k = 0
        while (k < numHashes) {
          val hk = XXH64.hashLong(h0, k)
          if (hk < mins(k)) mins(k) = hk
          k += 1
        }
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  /** The xxh64 branch of [[minhashSig]] starting from pre-hashed
    * shingles (`h0` values): per element, the k-th hash is
    * xxh64_long(h0, k); result = per-seed minimum. Bit-identical to
    * `minhashSig(shingles, n, "xxh64")` when `h0s(i) =
    * xxh64(shingles(i), seed 42)` — which is what Spark's `xxhash64`
    * column function computes. */
  def minhashSigFromLongs(h0s: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = h0s.numElements()
    var i = 0
    while (i < n) {
      val h0 = h0s.getLong(i)
      var k = 0
      while (k < numHashes) {
        val hk = XXH64.hashLong(h0, k)
        if (hk < mins(k)) mins(k) = hk
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Polynomial rolling hash over char k-grams mod 2^31-1, decorrelated
    * with a Knuth multiplicative mix mod 2^32, keeping the `keep`
    * smallest, dash-joined. Every step is small-word modular arithmetic
    * (products < 2^62 — no silent wraparound anywhere), so an external
    * SQL engine can recompute the identical fingerprint:
    * `list_reduce(chars, (a,b) -> (a*1000003+b) % 2147483647)` per
    * k-gram, `(h*2654435761) % 4294967296` mix, sort, slice, join. */
  def rollingFingerprint(s: UTF8String, k: Int, keep: Int): UTF8String = {
    val str = s.toString
    val n = str.length
    val P = 2147483647L // 2^31 - 1
    val MIX = 2654435761L // Knuth multiplicative constant
    val mins = new Array[Long](keep)
    java.util.Arrays.fill(mins, Long.MaxValue)
    def offer(raw: Long): Unit = {
      val h = (raw * MIX) % 4294967296L
      // keep is tiny (4): insertion into a sorted array
      var i = keep - 1
      if (h >= mins(i)) return
      while (i > 0 && h < mins(i - 1)) {
        mins(i) = mins(i - 1); i -= 1
      }
      mins(i) = h
    }
    val B = 1000003L
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = (h * B + str.charAt(i)) % P; i += 1 }
      offer(h)
    } else {
      var bk = 1L // B^(k-1) mod P
      var i = 1
      while (i < k) { bk = (bk * B) % P; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = (h * B + str.charAt(i)) % P; i += 1 }
      offer(h)
      i = k
      while (i < n) {
        var x = (h - (str.charAt(i - k) * bk) % P) % P
        if (x < 0) x += P
        h = (x * B + str.charAt(i)) % P
        offer(h)
        i += 1
      }
    }
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < keep && mins(j) != Long.MaxValue) {
      if (j > 0) sb.append('-')
      sb.append(mins(j))
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 64-bit token hash with a SQL-replicable definition: little-endian
    * long of md5 digest bytes 8..15 — bit-identical to DuckDB's
    * `md5_number_lower`, which is what makes the simhash pipeline
    * verifiable by an external oracle end-to-end. */
  def md5Lower64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xFFL); i -= 1 }
    h
  }

  /** One pass over `tokens`: 64-bit SimHash, per-bit majority vote of
    * token hashes. `algo` picks the per-token hash: "xxh64" (fastest,
    * production default) or "md5" (oracle-replicable: DuckDB
    * `md5_number_lower` computes the identical value). Banding and
    * verification are hash-agnostic. */
  def simhash64(tokens: ArrayData, algo: String): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    val useMd5 = algo == "md5"
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val h = if (useMd5) md5Lower64(t) else XXH64.hashUTF8String(t, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** 128-bit SimHash as [lo, hi] (bits 0..63, 64..127). The wider
    * signature exists for the banding key space: at maxHamming=8 the
    * pigeonhole banding needs 9 chunks, which over 64 bits are only ~7
    * bits wide (≤256 values — near-quadratic bucket pairing at corpus
    * scale) but over 128 bits are ~14 bits (16k values per chunk).
    * `algo` = "xxh64" (lo/hi = seeds 42/77) or "md5" (lo/hi bit-identical
    * to DuckDB `md5_number_lower`/`md5_number_upper` — one digest, both
    * halves). */
  def simhash128(tokens: ArrayData, algo: String): ArrayData = {
    val votes = new Array[Int](128)
    val n = tokens.numElements()
    val useMd5 = algo == "md5"
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      var hLo = 0L
      var hHi = 0L
      if (useMd5) {
        val md = md5Local.get()
        md.reset()
        val d = md.digest(t.getBytes)
        var j = 15
        while (j >= 8) { hLo = (hLo << 8) | (d(j) & 0xFFL); j -= 1 }
        j = 7
        while (j >= 0) { hHi = (hHi << 8) | (d(j) & 0xFFL); j -= 1 }
      } else {
        hLo = XXH64.hashUTF8String(t, 42L)
        hHi = XXH64.hashUTF8String(t, 77L)
      }
      var b = 0
      while (b < 64) {
        if (((hLo >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        if (((hHi >>> b) & 1L) != 0L) votes(64 + b) += 1 else votes(64 + b) -= 1
        b += 1
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) lo |= (1L << b)
      if (votes(64 + b) > 0) hi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(lo, hi))
  }
}

/** `rolling_fingerprint(text, k, keep)` — winnowing-style robust
  * fingerprint: polynomial rolling hash over every char k-gram (one pass,
  * O(len) — substring hashing would be O(len·k)), keeping the `keep`
  * smallest hashes joined with "-". Survives small edits: an edit only
  * perturbs the k windows covering it. */
case class RollingFingerprint(child: Expression, k: Int, keep: Int)
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "rolling_fingerprint"

  override protected def nullSafeEval(v: Any): Any =
    Sketches.rollingFingerprint(v.asInstanceOf[UTF8String], k, keep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sketches.rollingFingerprint($v, $k, $keep);")

  override protected def withNewChildInternal(c: Expression): RollingFingerprint =
    copy(child = c)
}

object RollingFingerprint {
  def apply(text: Column, k: Int, keep: Int): Column =
    ColumnBridge.column(
      new RollingFingerprint(ColumnBridge.expression(text), k, keep))
}

/** `minhash_sig(shingles, n, algo)` — MinHash signature as array<bigint>. */
case class MinHashSig(child: Expression, numHashes: Int,
    algo: String = "xxh64") extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(v: Any): Any =
    Sketches.minhashSig(v.asInstanceOf[ArrayData], numHashes, algo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashAlgo", algo, "java.lang.String")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sketches.minhashSig($v, $numHashes, $a);")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

object MinHashSig {
  def apply(shingles: Column, numHashes: Int): Column = apply(shingles, numHashes, "xxh64")
  def apply(shingles: Column, numHashes: Int, algo: String): Column =
    ColumnBridge.column(new MinHashSig(ColumnBridge.expression(shingles), numHashes, algo))
}

/** `minhash_sig_longs(h0s, n)` — the xxh64 MinHash signature computed
  * from PRE-HASHED shingles: Spark's `xxhash64(s)` (seed 42) is exactly
  * the chain's per-shingle base hash `h0 = xxh64(bytes, 42)`, so a
  * corpus persisted as `array<bigint>` of shingle hashes yields the
  * BIT-IDENTICAL signature without re-reading the strings (r8: the
  * minhash pipeline hashes each shingle once for signature + both
  * verification joins; PipelineSpec gates the identity vs
  * [[MinHashSig]]). */
case class MinHashSigFromLongs(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_longs"

  override protected def nullSafeEval(v: Any): Any =
    Sketches.minhashSigFromLongs(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sketches.minhashSigFromLongs($v, $numHashes);")

  override protected def withNewChildInternal(c: Expression): MinHashSigFromLongs =
    copy(child = c)
}

object MinHashSigFromLongs {
  def apply(h0s: Column, numHashes: Int): Column =
    ColumnBridge.column(
      new MinHashSigFromLongs(ColumnBridge.expression(h0s), numHashes))
}

/** `simhash64(tokens, algo)` — 64-bit SimHash as bigint. */
case class SimHash64(child: Expression, algo: String = "xxh64")
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    Sketches.simhash64(v.asInstanceOf[ArrayData], algo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("simhashAlgo", algo, "java.lang.String")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sketches.simhash64($v, $a);")
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

object SimHash64 {
  def apply(tokens: Column): Column = apply(tokens, "xxh64")
  def apply(tokens: Column, algo: String): Column =
    ColumnBridge.column(new SimHash64(ColumnBridge.expression(tokens), algo))
}

/** `simhash128(tokens, algo)` — 128-bit SimHash as array<bigint> [lo, hi]. */
case class SimHash128(child: Expression, algo: String = "xxh64")
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash128"

  override protected def nullSafeEval(v: Any): Any =
    Sketches.simhash128(v.asInstanceOf[ArrayData], algo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("simhashAlgo", algo, "java.lang.String")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.Sketches.simhash128($v, $a);")
  }

  override protected def withNewChildInternal(c: Expression): SimHash128 = copy(child = c)
}

object SimHash128 {
  def apply(tokens: Column): Column = apply(tokens, "xxh64")
  def apply(tokens: Column, algo: String): Column =
    ColumnBridge.column(new SimHash128(ColumnBridge.expression(tokens), algo))
}

/** `bloom_contains(hash)` — membership probe against a pre-built
  * `org.apache.spark.util.sketch.BloomFilter` (serialized into the
  * plan and shipped once per executor via the reference-object table,
  * like the radix/pattern automata). One-sided error: may claim
  * membership falsely at the configured fpp, never misses a real
  * member — callers use it as a PREFILTER before an exact join, so
  * the final answer stays exact. */
case class BloomContains(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  override protected def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildInternal(c: Expression): BloomContains =
    copy(child = c)
}

object BloomContains {
  def apply(hash: Column, bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    ColumnBridge.column(new BloomContains(ColumnBridge.expression(hash), bloom))
}
