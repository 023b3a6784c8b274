package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, ExplainUtils, FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import scala.collection.mutable

/** Dev plan-inspection and attribution main: print the formatted
  * physical plan of a registry query at a given SF dir (the
  * `.explain("formatted")` discipline from the build instructions,
  * runnable outside tests).
  *
  * Usage: runMain graft.Explain <sfDir> <query1,query2,...> [exec]
  *
  * `exec` answers where a query spent its time. After warming the
  * query at [[Harness.warmDirs]], it builds, plans and runs it once in
  * the bench's timed shape ([[Harness.benchShape]]) and prints, before
  * the formatted plan (then AQE's final plan, with runtime join
  * strategy changes, not the static estimate):
  *  - build, plan and run ms (DataFrame construction; analysis,
  *    optimization and physical planning; `toRdd.count`), and
  *    `build_jobs`, the Spark jobs submitted while building;
  *  - one row per stage run while building, planning or running,
  *    heaviest first: tasks, summed executor run time, median and max
  *    task duration (ms), shuffle read/write, spill and input KiB, and
  *    the stage's name; a stage that writes a shuffle of the final
  *    plan is named by its exchange, `Exchange (N)`, N being the
  *    exchange's id in the formatted plan;
  *  - the Exchange, ReusedExchange and file-scan node counts of the
  *    final plan, subqueries included.
  *
  * SPARK_GRAFT_PLAN_DIR=<dir> [SPARK_GRAFT_PLAN_SUFFIX=_before]:
  * instead of stdout, write each query's `.explain("formatted")`
  * output to <dir>/<query><suffix>.txt — the optimization-round
  * deliverable (plans/r15/). `all` as the query list expands to the
  * whole registry.
  */
object Explain extends AdaptiveSparkPlanHelper {

  private final class StageAgg {
    var name = ""
    var shuffleId: Option[Int] = None
    var tasks = 0
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var inputB = 0L
  }

  /** Per-stage task metrics, and the count, of every job run while it
    * is registered. */
  private final class StageListener extends SparkListener {
    val stages = mutable.LinkedHashMap.empty[Int, StageAgg]
    var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputB += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
        a.name = e.stageInfo.name
        a.shuffleId = ListenerDrain.shuffleDepId(e.stageInfo)
      }
  }

  /** (Exchange, ReusedExchange, scan) node counts of a physical plan,
    * through AQE query stages and subqueries. */
  def census(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count(_.isInstanceOf[DataSourceScanExec]))
  }

  /** Shuffle id -> `Exchange (N)` for each shuffle stage of an AQE final
    * plan, N being the exchange's operator id in the formatted plan.
    * Operator ids exist only while `ExplainUtils.processPlan` runs, so
    * they are read in its first output callback. */
  private def exchangeLabels(plan: SparkPlan): Map[Int, String] = {
    val stages = collectWithSubqueries(plan) { case s: ShuffleQueryStageExec => s }
      .filterNot(_.plan.isInstanceOf[ReusedExchangeExec])
    var labels = Map.empty[Int, String]
    ExplainUtils.processPlan[SparkPlan](plan, _ =>
      if (labels.isEmpty) labels = stages.map(s =>
        s.shuffle.shuffleId -> s"Exchange (${ExplainUtils.getOpId(s.plan)})").toMap)
    labels
  }

  /** Warm `fn` up, then build, plan and run it once at `sfDir` in the
    * bench's timed shape, print the attribution and return the frame. */
  private def attribute(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, sfDir: String): DataFrame = {
    for (w <- Harness.warmDirs)
      Harness.benchShape(fn(spark, w)).queryExecution.toRdd.count()
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val df = Harness.benchShape(fn(spark, sfDir))
    val t1 = System.nanoTime()
    // listener events arrive asynchronously on the listener bus
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    val buildJobs = listener.synchronized(listener.jobs)
    val t2 = System.nanoTime()
    df.queryExecution.executedPlan
    val t3 = System.nanoTime()
    df.queryExecution.toRdd.count()
    val t4 = System.nanoTime()
    ListenerDrain.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val labels = exchangeLabels(df.queryExecution.executedPlan)
    println(s"===== $name exec =====")
    println(f"build ${(t1 - t0) / 1e6}%.1f ms  plan ${(t3 - t2) / 1e6}%.1f ms  " +
      f"run ${(t4 - t3) / 1e6}%.1f ms  build_jobs $buildJobs")
    println(f"${"stage"}%6s ${"tasks"}%6s ${"task_ms"}%9s ${"med_ms"}%7s " +
      f"${"max_ms"}%7s ${"shuf_rd_kb"}%11s ${"shuf_wr_kb"}%11s " +
      f"${"spill_kb"}%9s ${"input_kb"}%9s  name")
    for ((id, a) <- listener.stages.toSeq.sortBy(-_._2.runMs)) {
      val ts = a.taskMs.sorted
      val med = if (ts.isEmpty) 0L else ts(ts.length / 2)
      val mx = if (ts.isEmpty) 0L else ts.last
      println(f"$id%6d ${a.tasks}%6d ${a.runMs}%9d $med%7d $mx%7d " +
        f"${a.shuffleReadB / 1024}%11d ${a.shuffleWriteB / 1024}%11d " +
        f"${a.spillB / 1024}%9d ${a.inputB / 1024}%9d  " +
        a.shuffleId.flatMap(labels.get).getOrElse(a.name.takeWhile(_ != '(')))
    }
    val (exchanges, reused, scans) = census(df.queryExecution.executedPlan)
    println(s"exchanges $exchanges  reused $reused  scans $scans")
    df
  }

  def main(args: Array[String]): Unit = {
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val registry = SparkEntry.queries ++ Queries.benchOnly.toMap
    val exec = args.length > 2 && args(2) == "exec"
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    val names =
      if (args(1) == "all") registry.keys.toSeq.sorted
      else args(1).split(",").toSeq
    planDir.foreach(d => new java.io.File(d).mkdirs())
    for (name <- names) {
      val df =
        if (exec) attribute(spark, name, registry(name), args(0))
        else registry(name)(spark, args(0))
      val formatted = df.queryExecution.explainString(FormattedMode)
      planDir match {
        case Some(d) =>
          val w = new java.io.PrintWriter(
            new java.io.File(d, name + suffix + ".txt"), "UTF-8")
          try w.println(formatted) finally w.close()
        case None =>
          println(s"===== $name =====")
          println(formatted)
      }
    }
    spark.stop()
  }
}
