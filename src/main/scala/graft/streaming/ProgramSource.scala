package graft.streaming

import java.io.InputStream
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.DataStreamWriter

/** Dev-mode process/pipe/stdin text sources — `program()`
  * (`/root/reference/modules/afprog/afprog.c:86-92`: the command line
  * runs under `/bin/sh -c`, its stdout is read as newline text),
  * `pipe()` (`modules/affile/named-pipe.c:67-73`: the FIFO is opened
  * O_RDWR so the reader never sees EOF when writers come and go) and
  * `stdin()` (`modules/affile/stdin.c`: fd 0, exit-on-eof). All three
  * feed the same fsync'd [[Spool]] → file-stream loop as the socket
  * listeners; nothing downstream knows which carrier delivered the
  * line.
  *
  * Like [[TcpSource]], this is the DEV-SCALE front door: one JVM
  * running one child process / tailing one FIFO, exactly like the
  * reference daemon. At cluster scale the same lines land in a Kafka
  * topic and the identical downstream chain consumes it.
  */
object ProgramSource {

  /** Blocking line pump: read newline frames off `in` until EOF, spool
    * them. EOF semantics are the caller's: a child process EOFs when
    * it exits (or is destroyed by stop()), stdin when the feeding
    * stream closes — `exit_on_eof`, stdin.c:63. */
  final class Pump(in: InputStream, spoolDir: String,
      maxMsgSize: Int = 65536, flushLines: Int = 1000, flushMs: Long = 200L,
      onStop: () => Unit = () => ()) extends SocketListener {

    private val running = new AtomicBoolean(true)
    private val spool = new Spool(spoolDir, flushLines, flushMs)
    private val reader = new FrameReader(octetCounted = false, maxMsgSize)

    private val pump = Spool.daemon("graft-pump") {
      try {
        var line = reader.readLine(in)
        while (line != null && running.get()) {
          spool.accept(line)
          line = reader.readLine(in)
        }
      } catch { case _: java.io.IOException => () /* closed under us */ }
      running.set(false)
    }
    private val flusher = Spool.daemon("graft-pump-flusher") {
      spool.flusherLoop(() => running.get())
    }

    def boundPort: Int = -1
    def receivedCount: Long = spool.receivedCount
    def stop(): Unit = {
      running.set(false)
      onStop() // unblocks the reader: destroys the child / closes `in`
      pump.join(5000)
      flusher.join(5000)
      spool.flush(force = true)
    }
  }

  /** Incremental newline splitter for the non-blocking FIFO pump:
    * bytes in (any chunking), complete lines out. CR-tolerant,
    * truncation at maxMsgSize — same framing as
    * [[FrameReader.readLine]]. */
  private final class LineAssembler(maxMsgSize: Int, emit: String => Unit) {
    private val buf = new java.io.ByteArrayOutputStream()
    private var accepted = 0
    def feed(bytes: Array[Byte], n: Int): Unit = {
      var i = 0
      while (i < n) {
        val b = bytes(i)
        if (b == '\n') {
          val arr = buf.toByteArray
          val len =
            if (arr.length > 0 && arr(arr.length - 1) == '\r') arr.length - 1
            else arr.length
          emit(new String(arr, 0, len, StandardCharsets.UTF_8))
          buf.reset(); accepted = 0
        } else {
          if (accepted < maxMsgSize) buf.write(b.toInt)
          accepted += 1
        }
        i += 1
      }
    }
  }

  /** FIFO pump — the named-pipe.c translation. The O_RDWR open (via
    * RandomAccessFile "rw") means open() never blocks waiting for a
    * writer and read never hits EOF when the last writer closes; data
    * is drained with an available()-gated poll so stop() never races a
    * blocked read. */
  final class PipePump(path: String, spoolDir: String,
      maxMsgSize: Int = 65536, flushLines: Int = 1000, flushMs: Long = 200L)
      extends SocketListener {

    private val running = new AtomicBoolean(true)
    private val spool = new Spool(spoolDir, flushLines, flushMs)
    private val raf = new java.io.RandomAccessFile(path, "rw")
    private val fin = new java.io.FileInputStream(raf.getFD)

    private val pump = Spool.daemon("graft-fifo-pump") {
      val chunk = new Array[Byte](8192)
      val lines = new LineAssembler(maxMsgSize, spool.accept)
      try {
        while (running.get()) {
          if (fin.available() == 0) Thread.sleep(5)
          else {
            val n = fin.read(chunk, 0, chunk.length)
            if (n > 0) lines.feed(chunk, n)
          }
        }
      } catch { case _: java.io.IOException => () }
    }
    private val flusher = Spool.daemon("graft-fifo-flusher") {
      spool.flusherLoop(() => running.get())
    }

    def boundPort: Int = -1
    def receivedCount: Long = spool.receivedCount

    def stop(): Unit = {
      running.set(false)
      pump.join(5000)
      flusher.join(5000)
      try raf.close() catch { case _: java.io.IOException => () }
      spool.flush(force = true)
    }
  }

  /** `source { program("cmdline"); }`: spawn `/bin/sh -c cmdline`,
    * stream its stdout lines. Child stderr inherits the JVM's, like
    * the reference daemon's. */
  def listen(spark: SparkSession, spoolDir: String, cmdline: String,
      maxMsgSize: Int = 65536): (Pump, DataFrame) = {
    val proc = new ProcessBuilder("/bin/sh", "-c", cmdline)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val pump = new Pump(proc.getInputStream, spoolDir, maxMsgSize,
      onStop = () => proc.destroy())
    (pump, Spool.lines(spark, spoolDir))
  }

  /** `source { stdin(); }` — or any caller-supplied stream (tests). */
  def fromStream(spark: SparkSession, spoolDir: String, in: InputStream,
      maxMsgSize: Int = 65536): (Pump, DataFrame) = {
    val pump = new Pump(in, spoolDir, maxMsgSize, onStop = () =>
      try in.close() catch { case _: java.io.IOException => () })
    (pump, Spool.lines(spark, spoolDir))
  }

  /** `source { pipe("/path/to/fifo"); }`. */
  def pipe(spark: SparkSession, spoolDir: String, path: String,
      maxMsgSize: Int = 65536): (PipePump, DataFrame) = {
    val pump = new PipePump(path, spoolDir, maxMsgSize)
    (pump, Spool.lines(spark, spoolDir))
  }
}

/** `program()` DESTINATION (`/root/reference/modules/afprog/
  * afprog.c:525-545`): rendered messages are written newline-delimited
  * to the stdin of `/bin/sh -c cmdline`. The reference keeps one
  * long-lived child and respawns it on exit (keep-alive/time-reopen);
  * the micro-batch translation spawns one child per partition per
  * batch and fails the batch when the child exits non-zero — replay
  * then re-delivers the partition, the same at-least-once contract as
  * the socket sinks. */
object ProgramSink {

  private[graft] def sendPartition(cmdline: String,
      msgs: Iterator[String]): Unit = {
    if (!msgs.hasNext) return
    val proc = new ProcessBuilder("/bin/sh", "-c", cmdline)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .redirectOutput(ProcessBuilder.Redirect.INHERIT)
      .start()
    val out = proc.getOutputStream
    try {
      msgs.foreach { m =>
        out.write(m.getBytes(StandardCharsets.UTF_8))
        out.write('\n')
      }
      out.flush()
    } finally out.close()
    val code = proc.waitFor()
    if (code != 0)
      throw new java.io.IOException(
        s"program destination exited $code: $cmdline")
  }

  def writeBatch(df: DataFrame, bodyCol: String, cmdline: String): Unit =
    df.select(col(bodyCol).cast("string")).foreachPartition {
      (rows: Iterator[Row]) => sendPartition(cmdline, rows.map(_.getString(0)))
    }

  def programSink(ds: Dataset[Row], bodyCol: String, cmdline: String,
      checkpoint: String): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        writeBatch(batch.toDF(), bodyCol, cmdline)
      }
}
