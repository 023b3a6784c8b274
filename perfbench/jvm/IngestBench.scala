package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.config.{ConfigCompiler, ConfigParser}
import graft.streaming.{Sinks, SocketListener}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Ingest benchmark, engine side: TCP listener -> spool -> file source ->
  * config-compiled pipeline -> per-batch parquet sink, driven only
  * through the engine's public entry points.
  *
  * It sets the pipeline up (parse, compile, start the listener and the
  * stream, push a prefill burst and then a warm-up at the steady rate,
  * and wait until both have drained), then times an open-loop load at
  * the steady rate. The prefill leaves more spool files than the file
  * source lists without a Spark job (the parallel-listing threshold), so
  * every timed batch runs in the regime a long-running ingest is in. The load itself comes from the generator process
  * (`gen.py`), started once per phase. Everything measured is written
  * as raw records under the work directory; `run.py` turns them into
  * metrics and checks them against what the generator sent.
  *
  * Usage: IngestBench <work-dir> <python> <gen.py> <seed> <seconds>
  *   <trace 0|1> <rate> <prefill-lines> <warm-seconds>
  */
object IngestBench {

  /** The benchmarked pipeline: keep emerg..info except cron, parse the
    * message's key=value pairs, and route by action and severity. */
  val PipelineConfig: String =
    """
    source s_net { network(transport(tcp) port(0)); };
    filter f_keep { severity(emerg..info) and not program("cron"); };
    parser p_kv { kv-parser(); };
    destination d_out { file("/bench/$ROUTE.log"); };
    log {
      source(s_net);
      filter(f_keep);
      parser(p_kv);
      if (message("action=login")) {
        rewrite(set("auth", value("route")));
      } elif (severity(emerg..err)) {
        rewrite(set("alert", value("route")));
      } else {
        rewrite(set("bulk", value("route")));
      };
      destination(d_out);
    };
    """

  def nowUs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Spans recorded around calls into the engine. With tracing off
    * nothing is kept. Parent links follow the calling thread's open
    * spans; sink writes carry their batch id instead (they run on the
    * stream thread) and are linked to the batch span at write-out. */
  final class Tracer(on: Boolean) {
    final case class Span(id: Int, name: String, start: Long, end: Long,
        parent: Int, batch: String)
    private val spans = mutable.ArrayBuffer.empty[Span]
    private val open = new ThreadLocal[List[Int]] { override def initialValue = Nil }
    private var nextId = 0

    private def newId(): Int = synchronized { nextId += 1; nextId }

    def span[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val id = newId()
        val parent = open.get().headOption.getOrElse(0)
        open.set(id :: open.get())
        val t0 = nowUs()
        try body
        finally {
          val t1 = nowUs()
          open.set(open.get().tail)
          synchronized { spans += Span(id, name, t0, t1, parent, "") }
        }
      }

    /** A span timed elsewhere, with no parent yet. */
    def record(name: String, start: Long, end: Long, batch: String): Int =
      if (!on) 0
      else {
        val id = newId()
        synchronized { spans += Span(id, name, start, end, 0, batch) }
        id
      }

    def all: Seq[Span] = synchronized(spans.toList)
  }

  /** Progress of every streaming query, recorded as it arrives. */
  final class Progress extends StreamingQueryListener {
    final case class Batch(batchId: Long, startUs: Long, rows: Long,
        durations: Map[String, Long])
    private val byQuery = new ConcurrentHashMap[String, mutable.ArrayBuffer[Batch]]()

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ts = Instant.parse(p.timestamp)
      val b = Batch(p.batchId, ts.getEpochSecond * 1000000L + ts.getNano / 1000,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      val buf = byQuery.computeIfAbsent(p.id.toString, _ => mutable.ArrayBuffer.empty)
      buf.synchronized { buf += b }
    }

    def batches(q: StreamingQuery): Seq[Batch] =
      Option(byQuery.get(q.id.toString)).map(b => b.synchronized(b.toList))
        .getOrElse(Nil)
    def rowsRead(q: StreamingQuery): Long = batches(q).map(_.rows).sum
  }

  /** The pipeline with its spool, checkpoint and output. The stream
    * writes each micro-batch with the engine's partitioned file sink
    * into `out/batch=<id>/route=<route>/` and records when the write
    * returned (the batch's commit time). */
  final class Pipeline(val dir: Path, val listener: SocketListener,
      route: DataFrame, tracer: Tracer) {
    val commits = new ConcurrentHashMap[Long, Long]()
    var linesSent = 0L
    var query: StreamingQuery = _

    def start(): Unit = {
      val out = dir.resolve("out").toString
      query = route.writeStream
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          val t0 = nowUs()
          Sinks.partitionedWrite(batch.toDF(), s"$out/batch=$id", Seq("route"))
          val t1 = nowUs()
          commits.put(id, t1)
          tracer.record("sink.write", t0, t1, id.toString)
          ()
        }
        .start()
    }

    def stop(): Unit = { query.stop(); listener.stop() }
  }

  /** Exit with 0 only when the run completed; a failure must not leave
    * the JVM waiting on Spark's threads. */
  def main(args: Array[String]): Unit = {
    val ok = try { run(args); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    sys.exit(if (ok) 0 else 1)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workDir, python, genPy, seedS, secondsS, traceS,
      rateS, prefillS, warmS) = args
    val work = Paths.get(workDir)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val rate = rateS.toInt
    val prefill = prefillS.toLong
    val warm = warmS.toDouble
    val tracer = new Tracer(trace)
    val cores = sys.props("perfbench.cores")
    var nextSeq = 0L
    val result = mutable.LinkedHashMap.empty[String, Any]
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]

    val spark = tracer.span("session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench-ingest")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    result("session_ready_us") = nowUs()
    val progress = new Progress
    spark.streams.addListener(progress)

    /** Run the generator process; returns its report path. */
    def generate(p: Pipeline, phase: String, mode: String, count: Long): Path = {
      val report = work.resolve(s"gen-$phase.json")
      val cmd = Seq(python, genPy, "--port", p.listener.boundPort.toString,
        "--seed", seed.toString, "--mode", mode, "--rate", rate.toString,
        "--first-seq", nextSeq.toString, "--count", count.toString,
        "--report", report.toString)
      val proc = new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true)
        .redirectOutput(work.resolve(s"gen-$phase.log").toFile)
        .start()
      val rc = proc.waitFor()
      if (rc != 0) throw new IllegalStateException(s"generator failed in $phase: rc=$rc")
      nextSeq += count
      p.linesSent += count
      phases += Map("phase" -> phase, "mode" -> mode, "first_seq" -> (nextSeq - count),
        "count" -> count, "report" -> report.getFileName.toString)
      report
    }

    /** Wait until the stream has read and committed every line sent. */
    def drain(p: Pipeline): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (progress.rowsRead(p.query) < p.linesSent) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(
            s"stream did not drain: read ${progress.rowsRead(p.query)} of ${p.linesSent}")
        Thread.sleep(20)
      }
    }

    val p = tracer.span("setup") {
      val dir = Files.createDirectories(work.resolve("pipeline"))
      val cfg = tracer.span("config.parse")(ConfigParser.parse(PipelineConfig))
      val (routes, listeners) = tracer.span("config.compile") {
        ConfigCompiler.compileStreamingPipeline(cfg, spark, dir.resolve("spool").toString)
      }
      val p = new Pipeline(dir, listeners("s_net"), routes.head.df, tracer)
      tracer.span("stream.start")(p.start())
      tracer.span("warmup") {
        generate(p, "fill", "burst", prefill)
        generate(p, "warm", "steady", (warm * rate).toLong)
        drain(p)
      }
      p
    }

    // timed phase
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val samples = mutable.ArrayBuffer.empty[(Long, Long)]
    @volatile var sampling = trace
    val sampler = new Thread(() => {
      var last = -1L
      while (sampling) {
        val c = p.listener.receivedCount
        if (c != last) { samples += ((nowUs(), c)); last = c }
        Thread.sleep(1)
      }
    }, "perfbench-receive-sampler")
    val received0 = p.listener.receivedCount
    val gc0 = gcMs()
    val cpu0 = os.getProcessCpuTime
    val timedFirstSeq = nextSeq
    if (trace) sampler.start()
    result("timed_start_us") = nowUs()
    tracer.span("timed") {
      generate(p, "timed", "steady", (seconds * rate).toLong)
      drain(p)
    }
    sampling = false
    if (trace) sampler.join()
    result("timed_first_seq") = timedFirstSeq
    result("timed_lines") = nextSeq - timedFirstSeq
    result("gc_ms") = gcMs() - gc0
    result("cpu_ms") = (os.getProcessCpuTime - cpu0) / 1000000L
    result("tcp_frames") = p.listener.receivedCount - received0
    result("peak_rss_kb") = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    result("receive_samples") = samples.toList.map { case (t, c) => List(t, c) }
    p.stop()

    // raw records for run.py: output rows, batches, spool files
    val rows = spark.read.parquet(p.dir.resolve("out").toString)
      .select(col("values").getItem("seq"), col("values").getItem("sched"),
        col("route"), col("batch"), col("source_file"))
      .collect()
    writeLines(work.resolve("rows.csv"), rows.iterator.map { r =>
      val file = Option(r.getString(4)).map(f => f.substring(f.lastIndexOf('/') + 1))
      s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)},${file.getOrElse("")}"
    })
    val batchSpans = mutable.Map.empty[String, Int]
    writeLines(work.resolve("batches.csv"),
      progress.batches(p.query).sortBy(_.batchId).iterator.map { b =>
        val d = b.durations
        def ms(k: String) = d.getOrElse(k, 0L)
        batchSpans(b.batchId.toString) = tracer.record("batch", b.startUs,
          b.startUs + ms("triggerExecution") * 1000L, "")
        Seq(b.batchId, b.startUs, Option(p.commits.get(b.batchId)).getOrElse(0L),
          b.rows, ms("latestOffset"), ms("getBatch"), ms("queryPlanning"),
          ms("walCommit"), ms("addBatch"), ms("commitOffsets"),
          ms("triggerExecution")).mkString(",")
      })
    val spool = p.dir.resolve("spool").resolve("s_net")
    writeLines(work.resolve("spool.csv"),
      Files.list(spool).iterator().asScala.filter(_.getFileName.toString.startsWith("spool-"))
        .map { f =>
          val m = Files.getLastModifiedTime(f).toInstant
          val lines = Files.readAllBytes(f).count(_ == '\n'.toByte)
          s"${f.getFileName},${m.getEpochSecond * 1000000L + m.getNano / 1000},$lines"
        })
    result("sink_files") = Files.walk(p.dir.resolve("out")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    if (trace)
      // a sink write's parent is the batch span of its batch
      writeLines(work.resolve("spans.csv"), tracer.all.iterator.map { s =>
        val parent = if (s.name == "sink.write") batchSpans.getOrElse(s.batch, 0)
          else s.parent
        s"${s.id},${s.name},${s.start},${s.end},$parent"
      })
    result("phases") = phases.toList
    Files.write(work.resolve("result.json"), toJson(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    val w = new PrintWriter(Files.newBufferedWriter(path, StandardCharsets.UTF_8))
    try lines.foreach(w.println) finally w.close()
  }

  def toJson(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"\"$k\":${toJson(x)}" }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(toJson).mkString("[", ",", "]")
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case x => x.toString
  }
}
