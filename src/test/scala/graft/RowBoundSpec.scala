package graft

import graft.operators.RowBound
import org.apache.spark.sql.functions._

/** RowBound feeds the session operators' probe-free fast path: a wrong
  * (under-counting) bound would silently skip hot-key detection — a
  * performance hazard, never a correctness one (the unsplit plan is
  * always exact), but pin the arithmetic anyway. */
class RowBoundSpec extends GraftSuite {
  import spark.implicits._

  test("parquet leaves: bound == exact footer row count through " +
      "project/filter/repartition chains") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    assert(RowBound.upperBound(docs).contains(n))
    val chained = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), length(col("text")).as("len"))
      .repartition(4)
      .sortWithinPartitions(col("doc_id"))
    assert(RowBound.upperBound(chained).contains(n))
  }

  test("unique-key broadcast lookup is row-preserving; duplicate keys " +
      "fall back to the product bound; explode is unbounded") {
    val left = Tables.documents(spark, sf)
    val n = left.count()
    val uniqDim = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("k", "v")
    val dupDim = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val joinedU = left.join(broadcast(uniqDim),
      left("lang") === uniqDim("k"), "left")
    assert(RowBound.upperBound(joinedU).contains(n), "unique-key lookup")
    val joinedD = left.join(broadcast(dupDim),
      left("lang") === dupDim("k"), "left")
    assert(RowBound.upperBound(joinedD).contains(n * 3), "dup-key product")
    val gen = left.select(explode(split(col("text"), " ")))
    assert(RowBound.upperBound(gen).isEmpty, "explode must be unbounded")
    // semi/anti joins bound by the probe side regardless of the dim
    val semi = left.join(dupDim, left("lang") === dupDim("k"), "left_semi")
    assert(RowBound.upperBound(semi).contains(n))
  }

  test("build keys a join equates (-0.0/0.0, NaN/NaN) are not a unique " +
      "lookup") {
    // Spark normalizes floating join keys, so both build rows match the
    // probe and the join may double its probe side
    val left = Tables.documents(spark, sf)
      .withColumn("z", lit(0.0)).withColumn("nan", lit(Double.NaN))
    val n = left.count()
    for ((probe, dim) <- Seq(
        col("z") -> Seq(-0.0, 0.0).toDF("k"),
        col("nan") -> Seq(Double.NaN, Double.NaN).toDF("k"),
        col("nan").cast("float") -> Seq(Float.NaN, Float.NaN).toDF("k"))) {
      val joined = left.join(broadcast(dim), probe === dim("k"), "left")
      assert(joined.count() == n * 2, s"$probe")
      assert(RowBound.upperBound(joined).contains(n * 2), s"$probe")
    }
  }
}
