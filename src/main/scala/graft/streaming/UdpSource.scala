package graft.streaming

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-mode UDP datagram listener — `network(transport(udp))` /
  * `syslog(transport(udp))` (`/root/reference/modules/afsocket/
  * afinet-source.c`, dgram framing `lib/logproto/
  * logproto-dgram-server.c`): ONE DATAGRAM = ONE MESSAGE, no stream
  * framing, no connection state — the packet boundary IS the record
  * boundary (`log_proto_dgram_server_fetch_from_buffer` hands the
  * whole buffer over as a single message). Oversize payloads truncate
  * at `log-msg-size` like trim-large-messages; a trailing newline is
  * trimmed (senders that println() their datagrams), embedded
  * newlines are replaced with spaces — the newline-delimited spool
  * cannot represent them, and a multi-line UDP syslog datagram is
  * already outside RFC5426.
  *
  * Shares the fsync'd [[Spool]] with [[TcpSource]]: frames land in
  * atomically-renamed files the Structured Streaming file source
  * tails, so everything downstream of the socket is identical for
  * both transports.
  */
object UdpSource {

  final class Listener(port: Int, spoolDir: String,
      maxMsgSize: Int = 65536, flushLines: Int = 1000, flushMs: Long = 200L)
      extends SocketListener {

    private val socket = new DatagramSocket(null)
    private val running = new AtomicBoolean(false)
    private val spool = new Spool(spoolDir, flushLines, flushMs)
    private var threads: List[Thread] = Nil

    def boundPort: Int = socket.getLocalPort
    def receivedCount: Long = spool.receivedCount

    def start(): Listener = {
      socket.bind(new InetSocketAddress("127.0.0.1", port))
      running.set(true)
      val receiver = Spool.daemon("graft-udp-receiver") {
        // 64 KiB = the maximum UDP payload; truncation to maxMsgSize
        // happens on the decoded string below
        val buf = new Array[Byte](65536)
        while (running.get()) {
          try {
            val pkt = new DatagramPacket(buf, buf.length)
            socket.receive(pkt)
            var s = new String(pkt.getData, pkt.getOffset, pkt.getLength,
              StandardCharsets.UTF_8)
            // msg-format.c:35: ALL trailing '\n' and NUL bytes strip at
            // the message-format layer (a while loop, not one char —
            // "...gép\n\n" must not leave a stray separator behind);
            // then one \r for CRLF senders
            var end = s.length
            while (end > 0 && (s.charAt(end - 1) == '\n' || s.charAt(end - 1) == '\u0000'))
              end -= 1
            if (end > 0 && s.charAt(end - 1) == '\r') end -= 1
            s = s.substring(0, end)
            if (s.length > maxMsgSize) s = s.substring(0, maxMsgSize)
            if (s.indexOf('\n') >= 0) s = s.replace('\n', ' ')
            spool.accept(s)
          } catch {
            case _: java.io.IOException => () /* closed */
            case scala.util.control.NonFatal(_) => ()
          }
        }
      }
      val flusher = Spool.daemon("graft-udp-flusher") {
        spool.flusherLoop(() => running.get())
      }
      threads = receiver :: flusher :: Nil
      this
    }

    def stop(): Unit = {
      running.set(false)
      socket.close()
      threads.foreach(_.join(5000))
      spool.flush(force = true)
    }
  }

  /** Start a listener and return it with the streaming frame source
    * over its spool — `source { network(transport(udp) port(N)); }`
    * for one node. */
  def listen(spark: SparkSession, spoolDir: String, port: Int = 0,
      maxMsgSize: Int = 65536): (Listener, DataFrame) = {
    val l = new Listener(port, spoolDir, maxMsgSize).start()
    (l, Spool.lines(spark, spoolDir))
  }
}
