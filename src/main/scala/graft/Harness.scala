package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** What the dev mains (`Bench`, `Verify`, `Explain`, `ScaleGen`,
  * `SkewGen`, `TextSkewGen`) share: one local session shape and the
  * bench's timed query shape. */
object Harness {

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time, no UI and WARN logging. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm-up inputs run before anything is timed: sf0.001 compiles the
    * generated code, sf0.01 (~10x rows) pushes the hot generated
    * methods over the C2 JIT threshold — without it the timed run at
    * sf0.1 pays seconds of interpreter/C1 execution on the widest
    * projection chains and the number measures JIT, not the query
    * (SURVEY §8). */
  val warmDirs: Seq[String] = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  /** The shape a query is timed in. Every registry query ends in a
    * global ORDER BY that exists purely for the driver's DuckDB hash
    * compare — and a global Sort RANGE-PARTITIONS, whose sampling pass
    * executes the whole child a SECOND time (two near-identical corpus
    * stages on text_chunking_bpe at sf100p; ~2/3 of several "query"
    * times at scale were this boundary). The bench measures the
    * OPERATOR, so the top-level sort demotes to sortWithinPartitions
    * (same expressions, no range sampling, one scan) — r9 verdict #3.
    * Only the TOP-LEVEL Sort is touched: interior sorts are operator
    * semantics. */
  def benchShape(df: DataFrame): DataFrame = df.queryExecution.analyzed match {
    case s: Sort if s.global =>
      ColumnBridge.ofRows(df.sparkSession, Sort(s.order, global = false, s.child))
    case p @ Project(_, s: Sort) if s.global =>
      ColumnBridge.ofRows(df.sparkSession,
        p.copy(child = Sort(s.order, global = false, s.child)))
    case _ => df
  }
}
