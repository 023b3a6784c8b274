package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.Queries
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round,
  UnsafeProjection, XxHash64}
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

import perfbench.IngestBench.{Tracer, nowUs, toJson, writeLines}

/** Batch query benchmark, engine side: one client in a closed loop runs
  * whole passes over a fixed set of registry queries, each pass in its
  * own seeded order, through the public entry point `Queries.registry`.
  *
  * Each execution is timed in three steps: build (the registry call,
  * which returns the DataFrame and may run eager jobs), plan
  * (`queryExecution.executedPlan`) and run (`queryExecution.toRdd`,
  * which materialises every output column). The run step consumes the
  * rows with a count and an order-insensitive hash instead of a bare
  * count, so that every execution's output is checked; the hash is a
  * generated projection per row, small next to the query. Warm-up passes
  * in a fixed order come first and count as set-up. With tracing on, a
  * SparkListener attributes jobs, tasks and shuffle bytes to the query
  * that ran them, and the final adaptive plan of every execution gives
  * its scan and exchange counts.
  *
  * Usage: QueryBench <work-dir> <data-dir> <seed> <seconds> <trace 0|1>
  *   <warm-passes> <query,query,...>
  */
object QueryBench {

  /** Jobs, tasks and shuffle bytes per query label, from Spark's
    * listener bus. The label travels as a local property of the jobs. */
  final class JobStats extends SparkListener {
    val Key = "perfbench.query"
    private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val counts = mutable.Map.empty[String, Array[Long]]

    private def add(q: String, i: Int, v: Long): Unit = synchronized {
      counts.getOrElseUpdate(q, Array(0L, 0L, 0L))(i) += v
    }
    private def label(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(Key)))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      label(e.properties).foreach(add(_, 0, 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      label(e.properties).foreach(stageQuery.put(e.stageInfo.stageId, _))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageQuery.get(e.stageId)).foreach { q =>
        add(q, 1, 1)
        Option(e.taskMetrics).foreach(m => add(q, 2, m.shuffleWriteMetrics.bytesWritten))
      }

    def snapshot: Map[String, List[Long]] = synchronized {
      counts.map { case (k, v) => k -> v.toList }.toMap
    }
  }

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Run a planned query: its row count and an order-insensitive hash of
    * its rows, the sum (mod 2^64) of each row's xxhash64. Floating-point
    * columns are rounded to six decimals first, so that the order in
    * which an aggregate added them up does not change the hash. */
  def runAndHash(df: DataFrame): (Long, Long) = {
    val attrs = df.queryExecution.executedPlan.output
    val hash: Seq[Expression] = Seq(XxHash64(attrs.map { a =>
      a.dataType match {
        case DoubleType | FloatType => Round(a, Literal(6))
        case _ => a
      }
    }, 42L))
    df.queryExecution.toRdd.mapPartitions { it =>
      val project = UnsafeProjection.create(hash, attrs)
      var n = 0L
      var h = 0L
      while (it.hasNext) { h += project(it.next()).getLong(0); n += 1 }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (m, g)) => (n + m, h + g) }
  }

  def main(args: Array[String]): Unit = {
    val ok = try { run(args); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    sys.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workDir, dataDir, seedS, secondsS, traceS, warmS, queriesS) = args
    val work = Paths.get(workDir)
    val seed = seedS.toLong
    val budgetUs = (secondsS.toDouble * 1e6).toLong
    val trace = traceS == "1"
    val names = queriesS.split(",").toSeq
    val tracer = new Tracer(trace)
    val cores = sys.props("perfbench.cores")
    val result = mutable.LinkedHashMap.empty[String, Any]

    val spark = tracer.span("session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench-query")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    result("session_ready_us") = nowUs()
    val stats = new JobStats
    if (trace) spark.sparkContext.addSparkListener(stats)

    /** One execution: (build, plan, run) in us, rows, hash, scans,
      * exchanges. */
    def execute(name: String): (Long, Long, Long, Long, Long, Int, Int) = {
      spark.sparkContext.setLocalProperty(stats.Key, name)
      val t0 = nowUs()
      val df = tracer.span("query.build")(Queries.registry(name)(spark, dataDir))
      val t1 = nowUs()
      tracer.span("query.plan")(df.queryExecution.executedPlan)
      val t2 = nowUs()
      val (rows, hash) = tracer.span("query.run")(runAndHash(df))
      val t3 = nowUs()
      spark.sparkContext.setLocalProperty(stats.Key, null)
      val (scans, exchanges) =
        if (!trace) (0, 0)
        else {
          val all = nodes(df.queryExecution.executedPlan)
          (all.count(n => n.children.isEmpty && n.nodeName.contains("Scan")),
            all.count(_.isInstanceOf[Exchange]))
        }
      (t1 - t0, t2 - t1, t3 - t2, rows, hash, scans, exchanges)
    }

    tracer.span("warmup") {
      for (_ <- 1 to warmS.toInt; name <- names) execute(name)
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val stats0 = stats.snapshot
    val gc0 = gcMs()
    val cpu0 = os.getProcessCpuTime
    val timedStart = nowUs()
    result("timed_start_us") = timedStart
    val executions = mutable.ArrayBuffer.empty[Seq[Any]]
    val passes = mutable.ArrayBuffer.empty[Long]
    var pass = 0
    tracer.span("timed") {
      // at least two passes, so that a slow run still has two samples of
      // each query and its tail is the same percentile as in other runs
      while (pass < 2 || nowUs() - timedStart < budgetUs) {
        val order = new scala.util.Random(seed * 1000 + pass).shuffle(names)
        val p0 = nowUs()
        tracer.span("pass") {
          for (name <- order) {
            val (b, pl, r, rows, hash, scans, ex) = execute(name)
            executions += Seq(pass, name, b, pl, r, rows, hash.toString, scans, ex)
          }
        }
        passes += nowUs() - p0
        pass += 1
      }
    }
    result("gc_ms") = gcMs() - gc0
    result("cpu_ms") = (os.getProcessCpuTime - cpu0) / 1000000L
    result("peak_rss_kb") = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    // listener events arrive asynchronously: wait until the counts have
    // stopped moving
    var stats1 = stats.snapshot
    var still = 0
    while (trace && still < 3) {
      Thread.sleep(100)
      val next = stats.snapshot
      still = if (next == stats1) still + 1 else 0
      stats1 = next
    }
    result("job_stats") = names.map { n =>
      val a = stats0.getOrElse(n, List(0L, 0L, 0L))
      val b = stats1.getOrElse(n, List(0L, 0L, 0L))
      n -> b.zip(a).map { case (x, y) => x - y }
    }.toMap
    result("pass_us") = passes.toList
    result("executions") = executions.toList
    if (trace)
      writeLines(work.resolve("spans.csv"), tracer.all.iterator.map { s =>
        s"${s.id},${s.name},${s.start},${s.end},${s.parent}"
      })
    Files.write(work.resolve("result.json"), toJson(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
