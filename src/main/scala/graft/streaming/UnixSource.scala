package graft.streaming

import java.io.BufferedInputStream
import java.net.{StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.channels.{Channels, ServerSocketChannel}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-mode unix-stream() listener — `source { unix-stream("/path");
  * }` (`/root/reference/modules/afsocket/afunix-source.c`): the same
  * accept → frame → fsync'd-spool loop as [[TcpSource]], over a unix
  * domain socket (`java.net.UnixDomainSocketAddress`, no native
  * code). Framing is shared ([[FrameReader]]): newline text or
  * RFC6587 octet counting; peer-credential NVs (the reference's
  * `pass-unix-credentials()`) are out — the JDK API exposes no
  * SO_PEERCRED.
  *
  * Same dev-scale caveat as the TCP listener: one JVM, one socket
  * path; at cluster scale the wire lands in Kafka and the downstream
  * chain is identical.
  */
object UnixSource {

  final class Listener(path: String, spoolDir: String,
      octetCounted: Boolean = false, maxMsgSize: Int = 65536,
      flushLines: Int = 1000, flushMs: Long = 200L)
      extends SocketListener {

    private val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    private val running = new AtomicBoolean(false)
    private val spool = new Spool(spoolDir, flushLines, flushMs)
    private val reader = new FrameReader(octetCounted, maxMsgSize)
    private var threads: List[Thread] = Nil

    /** Unix sockets have no port; kept for the SocketListener shape. */
    def boundPort: Int = 0
    def receivedCount: Long = spool.receivedCount

    def start(): Listener = {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
      server.bind(UnixDomainSocketAddress.of(path))
      running.set(true)
      val acceptor = Spool.daemon("graft-unix-acceptor") {
        while (running.get()) {
          try {
            val ch = server.accept()
            val h = Spool.daemon("graft-unix-conn") {
              try {
                val in = new BufferedInputStream(Channels.newInputStream(ch), 1 << 16)
                var frame = reader.readFrame(in)
                while (frame != null) {
                  spool.accept(frame)
                  frame = reader.readFrame(in)
                }
              } catch {
                case _: java.io.IOException => ()
                case scala.util.control.NonFatal(_) => ()
              } finally ch.close()
            }
            synchronized { threads = h :: threads }
          } catch { case _: java.io.IOException => () /* closed */ }
        }
      }
      val flusher = Spool.daemon("graft-unix-flusher") {
        spool.flusherLoop(() => running.get())
      }
      synchronized { threads = acceptor :: flusher :: threads }
      this
    }

    def stop(): Unit = {
      running.set(false)
      server.close()
      synchronized(threads).foreach(_.join(5000))
      spool.flush(force = true)
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
    }
  }

  /** Start a listener on `path` and return it with the streaming frame
    * source over its spool. */
  def listen(spark: SparkSession, spoolDir: String, path: String,
      octetCounted: Boolean = false, maxMsgSize: Int = 65536)
      : (Listener, DataFrame) = {
    val l = new Listener(path, spoolDir, octetCounted, maxMsgSize).start()
    (l, Spool.lines(spark, spoolDir))
  }
}
