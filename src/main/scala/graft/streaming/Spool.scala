package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import scala.jdk.CollectionConverters._

/** The fsync'd frame spool shared by the dev-mode listeners
  * ([[TcpSource]], [[UdpSource]], [[UnixSource]], [[ProgramSource]]):
  * accepted frames queue in memory and drain into atomically-renamed
  * files that the Structured Streaming file source tails as one
  * directory ([[Spool.lines]]). This is the single-node disk-buffer
  * analog (the reference's `lib/diskq` role): arrival →
  * durability is a local fsync'd rename, and position tracking is the
  * stream checkpoint. `flushLines`/`flushMs` bound arrival→visibility
  * latency like flush-lines()/flush-timeout() on the reference's
  * writer side. */
private[streaming] final class Spool(spoolDir: String,
    flushLines: Int, flushMs: Long) {

  private val pending = new ConcurrentLinkedQueue[String]()
  private val pendingCount = new AtomicLong(0)
  private val received = new AtomicLong(0)

  Files.createDirectories(Paths.get(spoolDir))

  // continue after the highest finished file already in the directory
  // (a restarted listener, a config reload on the same spool), so a
  // new file never replaces one written before
  private val fileSeq = new AtomicLong({
    val ds = Files.newDirectoryStream(Paths.get(spoolDir), Spool.FilePattern)
    try ds.asScala.flatMap(_.getFileName.toString.filter(_.isDigit).toLongOption)
      .foldLeft(0L)(math.max)
    finally ds.close()
  })

  /** Frames accepted so far (the reference's `processed` counter). */
  def receivedCount: Long = received.get()

  def accept(frame: String): Unit = {
    pending.add(frame)
    pendingCount.incrementAndGet()
    received.incrementAndGet()
    if (pendingCount.get() >= flushLines) flush(force = false)
  }

  /** Run flush on a cadence until `alive` goes false and the queue is
    * drained (the caller joins the returned thread in stop()). */
  def flusherLoop(alive: () => Boolean): Unit = {
    while (alive() || pendingCount.get() > 0) {
      flush(force = false)
      Thread.sleep(flushMs)
    }
  }

  /** Drain the queue into one atomically-visible spool file: write a
    * hidden tmp outside the file pattern, fsync, rename in — the file
    * source never sees partial files. */
  def flush(force: Boolean): Unit = synchronized {
    if (pendingCount.get() == 0) return
    val sb = new java.lang.StringBuilder
    var drained = 0
    var m = pending.poll()
    while (m != null) {
      sb.append(m).append('\n')
      drained += 1
      m = pending.poll()
    }
    if (drained == 0) return
    pendingCount.addAndGet(-drained.toLong)
    val seq = fileSeq.incrementAndGet()
    val tmp = Paths.get(spoolDir, s".in-$seq.tmp")
    val dst = Paths.get(spoolDir, Spool.FilePattern.replace("*", f"$seq%08d"))
    val ch = java.nio.channels.FileChannel.open(tmp,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.write(java.nio.ByteBuffer.wrap(
        sb.toString.getBytes(StandardCharsets.UTF_8)))
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }
}

private[streaming] object Spool {

  /** The name pattern of finished spool files: `spool-NNNNNNNN.log`. */
  val FilePattern = "spool-*.log"

  /** A started daemon thread: a listener's acceptor, reader or flusher. */
  def daemon(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    t
  }

  /** The spool's streaming lines (`value`, full-path `source_file`).
    * The directory is the one root, filtered by [[FilePattern]]: a glob
    * expands into a root per file, and past the 32-root listing
    * threshold every trigger's `latestOffset` runs a Spark job with one
    * task per file. Hidden `.in-N.tmp` files are skipped. The directory
    * must exist first; a [[Spool]] creates it. */
  def lines(spark: SparkSession, spoolDir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 100)
      .option("pathGlobFilter", FilePattern)
      .text(spoolDir)
      .withColumn("source_file", functions.input_file_name())
}

/** What the config front end needs from any dev-mode socket listener,
  * TCP or UDP (`compileStreamingPipeline` returns these keyed by
  * source name). */
trait SocketListener {
  def boundPort: Int
  def receivedCount: Long
  def stop(): Unit
}

/** Stream-to-frames reader shared by the stream-transport listeners
  * ([[TcpSource]] TCP/TLS, [[UnixSource]]): newline framing
  * (`lib/logproto/logproto-text-server.c`, CR-tolerant, truncation at
  * `maxMsgSize` like trim-large-messages) or RFC6587 octet counting
  * (`logproto-framed-server.c` — a malformed frame header returns
  * null and drops the CONNECTION, the reference's "Invalid frame
  * header" path, never a garbage or empty message). */
private[streaming] final class FrameReader(octetCounted: Boolean,
    maxMsgSize: Int) {

  /** One newline-terminated line (CR-tolerant), or null at EOF. */
  def readLine(in: java.io.InputStream): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') {
      if (sb.length < maxMsgSize) sb.append(c.toChar)
      c = in.read()
    }
    if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r')
      sb.setLength(sb.length - 1)
    sb.toString
  }

  /** One frame, or null at EOF / protocol violation. */
  def readFrame(in: java.io.InputStream): String =
    if (octetCounted) {
      var n = 0L
      var digits = 0
      var c = in.read()
      if (c < 0) return null
      while (c >= '0' && c <= '9' && digits < 11) {
        n = n * 10 + (c - '0'); digits += 1; c = in.read()
      }
      if (c < 0) return null
      // 11+ digits would overflow an int payload size anyway; counts
      // far beyond log-msg-size are bounded so the truncation skip
      // can't be handed a hostile multi-GB length
      if (digits == 0 || digits >= 11 || c != ' ' ||
          n > maxMsgSize.toLong * 16) return null
      val take = math.min(n, maxMsgSize.toLong).toInt
      val buf = in.readNBytes(take)
      in.skipNBytes(n - take)
      if (buf.length < take) null
      else new String(buf, StandardCharsets.UTF_8)
    } else readLine(in)
}
