package graft

import org.apache.spark.sql.functions._

/** Dev layout generator: a SKEWED events table for the stateful-
  * operator scale cells (r12 verdict Next #3 — "per-host/program
  * scopes on a skewed host distribution is the realistic hazard").
  * `fraction` of the rows (hash-selected, deterministic) remap onto
  * ONE user_id/host key; everything else is untouched, so the
  * grouping_by_session / suppress / patterndb state shuffles meet one
  * mega-key carrying half the corpus — the production shape of a
  * fleet where one chatty host dominates.
  *
  * Usage: runMain graft.SkewGen <srcSfDir> <outDir> [fractionPct]
  */
object SkewGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val pct = if (args.length > 2) args(2).toInt else 50
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val ev = spark.read.parquet(s"$src/events.parquet")
    val skewed = ev.withColumn("user_id",
      when(pmod(xxhash64(col("event_id")), lit(100)) < pct, lit(0L))
        .otherwise(col("user_id")))
    skewed.write.mode("overwrite").parquet(s"$out/events.parquet")
    val top = spark.read.parquet(s"$out/events.parquet")
      .groupBy("user_id").count().orderBy(desc("count")).head
    println(s"skewgen: top key user_id=${top.getLong(0)} rows=${top.getLong(1)}")
    spark.stop()
  }
}
