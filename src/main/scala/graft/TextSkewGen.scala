package graft

import org.apache.spark.sql.functions._

/** Dev layout generator: a SKEWED-TEXT documents table for the dedup
  * scale cells (r14 verdict Next #5 — skew50 existed only for the
  * session/patterndb state shuffles; the minhash/ngram BAND and
  * SHINGLE exchanges meet the analogous hazard as a hot band/shingle
  * key).
  *
  * Two hazard populations, hash-selected and deterministic:
  *  - `clusterPct`% of docs rewritten into NEAR-DUP clusters of ~100
  *    docs each (shared 45-word base text + a per-cluster word + a
  *    per-doc variation word → pairwise jaccard ≈ 0.87 under 3-gram
  *    shingles): the realistic crawl shape — many bounded duplicate
  *    clusters, each band key carrying ~100 postings, pair output
  *    linear in N with a large constant;
  *  - `identicalPermille`‰ of docs set to ONE literally identical
  *    short text: every one of them shares every band key — the
  *    single-hot-band straggler (the band self-join emits all
  *    (n·(n-1)/2) pairs of that key in one task) that the r14 advice
  *    flagged as unbounded by the wave cap.
  *
  * Usage: runMain graft.TextSkewGen <srcSfDir> <outDir>
  *        [clusterPct=30] [identicalPermille=1]
  */
object TextSkewGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val clusterPct = if (args.length > 2) args(2).toInt else 30
    val identPm = if (args.length > 3) args(3).toInt else 1
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val n = docs.count()
    val nClusters = math.max(1L, n * clusterPct / 100 / 100) // ~100 docs each
    val base = (0 until 45).map(i => s"corpus$i").mkString(" ")
    val ident = "spam spam spam lorem ipsum dolor sit amet boilerplate footer"
    val h = pmod(xxhash64(col("doc_id"), lit(15)), lit(1000L))
    val skewed = docs.withColumn("text",
      when(h < identPm, lit(ident))
        .when(h < identPm + clusterPct * 10,
          concat(lit(base + " c"),
            pmod(xxhash64(col("doc_id"), lit(31)), lit(nClusters)),
            lit(" v"), pmod(col("doc_id"), lit(5))))
        .otherwise(col("text")))
    skewed.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val w = spark.read.parquet(s"$out/documents.parquet")
    val ni = w.filter(col("text") === ident).count()
    println(s"textskewgen: n=$n identical=$ni clusters=$nClusters " +
      s"clustered~${n * clusterPct / 100}")
    spark.stop()
  }
}
