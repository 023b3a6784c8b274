package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10x (or Nx) scale-up of a driver testdata directory,
  * for the scale-proof bench runs (SURVEY §8): every table is tiled
  * `factor` times with per-shard key remapping so that INTRA-shard
  * structure (duplicate groups, per-user event density, FK fan-outs,
  * cluster geometry) is preserved exactly while CROSS-shard
  * interference is eliminated — the realistic model of a corpus
  * growing 10x (more sources/users/documents of the same shape), not
  * one where every record suddenly has 10 near-identical twins.
  *
  * Per-table shard transforms (shard 0 is the base, untouched):
  *   - region/nation: fixed dimensions, copied once
  *   - customer/supplier/part/orders/lineitem: PK/FK columns get
  *     `+ shard * (max(basePK)+1)` strides, applied consistently on
  *     both sides of every FK edge
  *   - events: event_id/user_id strides; ts shifted +31 days per shard
  *     (disjoint time ranges -> session/window state per key unchanged)
  *   - documents: doc_id stride; for shard k>0 every LETTER maps
  *     through a shard-seeded CASE-PRESERVING permutation (a-z
  *     shuffled, A-Z its mirror — `translate`): a char bijection that
  *     COMMUTES with lower(), so two docs equal in the base stay equal
  *     in every shard (duplicate RATE constant, also under the
  *     normalized md5(lower(...)) fingerprints), distinct tokens stay
  *     distinct pre- AND post-lower, n-gram/shingle structure is
  *     isomorphic within a shard, and cross-shard shingle overlap is
  *     ~0 (a shard's vocab is a derangement no other shard's corpus
  *     contains). BYTE-STABLE
  *     by construction (r9 verdict #3): the r7-r9 word-SUFFIX scheme
  *     compounded across generations (avg doc 297→798 B over three
  *     applications), making every text-family "10× decade" ~15.7× in
  *     bytes; substitution holds document length constant at every
  *     generation. Digits/punctuation pass through (token boundaries
  *     and pre-tokenizer run shapes unchanged).
  *   - embeddings: vec_id stride; shard k>0 applies a seeded dimension
  *     permutation — all intra-shard dot products/norms are preserved
  *     bit-exactly, cross-shard cosines decorrelate
  *
  * Per-shard seeds mix a hash of `baseDir`, so REPEATED applications
  * (sf1p→sf10p→sf100p) draw independent maps per generation: with a
  * generation-constant map, lineage (0,k) (untouched then shard k) and
  * lineage (k,0) compose to the SAME transform and their documents/
  * embeddings collide as artificial cross-shard exact duplicates — a
  * defect the old suffix scheme had too ("foo" →(0,k)→ "foo_qk" ==
  * "foo" →(k,0)→ "foo_qk").
  *
  * Usage: runMain graft.ScaleGen <baseDir> <outDir> [factor] [files]
  * [tables] — `tables` (comma-separated, default all) generates a
  * SUBSET (e.g. `documents,embeddings` for a text/vector-only decade
  * when the full fact tables would not fit the disk).
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val files = if (args.length > 3) args(3).toInt else 1
    val only = if (args.length > 4)
      args(4).split(",").map(_.trim).filter(_.nonEmpty).toSet
    else Set.empty[String]
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    generate(spark, baseDir, outDir, factor, files, only)
    spark.stop()
  }

  /** `files` controls the output layout: 1 reproduces the driver
    * testdata's single-file shape (every scan is ONE task — the
    * per-core scaling measurement), >1 spreads each fact table over
    * that many files so a local[N] run engages all cores (the
    * cluster-layout measurement; a real 100 TB corpus is thousands of
    * files). Dimension tables stay single-file. */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, files: Int = 1, only: Set[String] = Set.empty): Unit = {
    def wanted(t: String): Boolean = only.isEmpty || only.contains(t)
    def read(t: String): DataFrame =
      spark.read.parquet(s"$baseDir/$t.parquet")
    def write(t: String, df0: DataFrame): Unit = {
      if (!wanted(t)) return
      val df = if (files > 1 && !Seq("region", "nation").contains(t))
        df0.repartition(files) else df0
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"scalegen: $t -> ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head.getLong(0) + 1L

    // fixed dimensions
    write("region", read("region"))
    write("nation", read("nation"))

    // a one-column frame of shard ids; crossJoin(broadcast) tiles the
    // base without shuffling it
    val shards = spark.range(factor).toDF("__shard")
    def tile(df: DataFrame): DataFrame = df.crossJoin(broadcast(shards))
    def remap(df: DataFrame, strides: (String, Long)*): DataFrame =
      strides.foldLeft(tile(df)) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + col("__shard") * s)
      }.drop("__shard")

    if (Seq("customer", "supplier", "part", "orders", "lineitem")
        .exists(wanted)) {
    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val lineitem = read("lineitem")
    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val orderS = stride(orders, "o_orderkey")
    write("customer", remap(customer, "c_custkey" -> custS))
    write("supplier", remap(supplier, "s_suppkey" -> suppS))
    write("part", remap(part, "p_partkey" -> partS))
    write("orders", remap(orders, "o_orderkey" -> orderS, "o_custkey" -> custS))
    write("lineitem", remap(lineitem, "l_orderkey" -> orderS,
      "l_partkey" -> partS, "l_suppkey" -> suppS))
    }

    if (wanted("events")) {
    val events = read("events")
    val eventS = stride(events, "event_id")
    val userS = stride(events, "user_id")
    write("events", tile(events)
      .withColumn("event_id", col("event_id") + col("__shard") * eventS)
      .withColumn("user_id", col("user_id") + col("__shard") * userS)
      // ts has shipped as both TIMESTAMP and TIMESTAMP_NTZ across
      // testdata regenerations — shift in µs, restore the base type
      // (session TZ is UTC, the casts are value-preserving)
      .withColumn("ts", timestamp_micros(
        unix_micros(col("ts").cast("timestamp")) +
          col("__shard") * (31L * 86400 * 1000000L))
        .cast(events.schema("ts").dataType))
      .drop("__shard"))
    }

    // generation key: distinct per ScaleGen application so composed
    // per-shard maps never coincide across lineages (scaladoc above)
    val genSeed = scala.util.hashing.MurmurHash3.stringHash(baseDir).toLong

    if (wanted("documents")) {
    val documents = read("documents")
    val docS = stride(documents, "doc_id")
    // CASE-PRESERVING permutation: shuffle a-z and mirror it onto A-Z
    // (sigma(upper(c)) = upper(sigma(c))), so the substitution COMMUTES
    // with lower() — the normalized-dedup family (md5(lower(...))
    // fingerprints, lower(text) tokens) sees the same duplicate/token
    // structure in every shard. A mixed-pool shuffle broke that:
    // sigma('a')='X' and sigma('B')='x' merge distinct post-lower
    // tokens and split equal-after-lower docs.
    val letters = (('a' to 'z') ++ ('A' to 'Z')).mkString
    val charMaps: Seq[String] = (0 until factor).map { k =>
      if (k == 0) letters
      else {
        val lowerPerm = new scala.util.Random(genSeed ^ (k * 0x9E3779B97F4A7CL))
          .shuffle(('a' to 'z').toList)
        (lowerPerm ++ lowerPerm.map(_.toUpper)).mkString
      }
    }
    // translate() takes literal maps — a when-cascade over the factor
    // shards keeps the whole mutation one codegen'd pass
    val substituted = (1 until factor).foldLeft(
        when(col("__shard") === 0, col("text"))) { (acc, k) =>
      acc.when(col("__shard") === k,
        translate(col("text"), letters, charMaps(k)))
    }.otherwise(col("text"))
    write("documents", tile(documents)
      .withColumn("text", substituted)
      .withColumn("doc_id", col("doc_id") + col("__shard") * docS)
      .withColumn("n_chars", length(col("text")))
      .drop("__shard"))
    }

    if (wanted("embeddings")) {
    val embeddings = read("embeddings")
    val vecS = stride(embeddings, "vec_id")
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    // factor permutations of [0,dim), shard 0 = identity; a tiny
    // broadcast lookup array<array<int>> indexed by shard
    val perms: Seq[Seq[Int]] = (0 until factor).map { k =>
      if (k == 0) 0 until dim
      else {
        val r = new scala.util.Random(genSeed ^ (0x5ca1e42L + k))
        r.shuffle((0 until dim).toList)
      }
    }
    val permCol = array(perms.map(p => array(p.map(lit): _*)): _*)
    write("embeddings", tile(embeddings)
      .withColumn("__perm", element_at(permCol, col("__shard").cast("int") + 1))
      .withColumn("embedding", transform(col("__perm"),
        i => element_at(col("embedding"), i + 1)))
      .withColumn("vec_id", col("vec_id") + col("__shard") * vecS)
      .drop("__shard", "__perm"))
    }
  }
}
