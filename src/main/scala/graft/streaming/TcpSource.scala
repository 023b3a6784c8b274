package graft.streaming

import java.io.BufferedInputStream
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev-mode TCP text listener — the `network(transport(tcp))` source
  * (`/root/reference/modules/afsocket/afinet-source.c`,
  * `afsocket-source.c:237-318`) for a single-node deployment: accepts
  * connections, reads newline-delimited or RFC6587 octet-counted
  * frames (`lib/logproto/logproto-framed-server.c`,
  * `logproto-text-server.c`), optionally strips a proxy-protocol v1
  * header line (`logproto-proxied-text-server.c` — full field parsing
  * lives in [[graft.functions.ProxyProto]]), and spools frames into
  * atomically-renamed files that the Structured Streaming file source
  * tails as one directory ([[Spool.lines]]): a glob, one root per spool
  * file, would run a listing job per trigger past 32 files. The spool is
  * the single-node disk-buffer analog: arrival→durability is a local
  * fsync'd rename, and position tracking is the stream checkpoint.
  *
  * This is deliberately a DEV-SCALE front door: one JVM accepting on
  * one port, like the reference process itself. At cluster scale the
  * same wire format lands in Kafka (partitioned, replicated) and the
  * identical downstream chain — framing expressions, ParseSyslog,
  * app-parser — consumes the topic; nothing downstream knows which
  * carrier delivered the line.
  *
  * `log-msg-size()` maps to `maxMsgSize` (oversize frames truncate,
  * like trim-large-messages); `flushLines`/`flushMs` bound
  * arrival→visibility latency like flush-lines()/flush-timeout() on
  * the reference's writer side.
  */
object TcpSource {

  final class Listener(port: Int, spoolDir: String,
      octetCounted: Boolean = false, proxyProtocol: Boolean = false,
      maxMsgSize: Int = 65536, flushLines: Int = 1000, flushMs: Long = 200L,
      /** (cert-file, key-file) PEM pair — `transport(tls)` with the
        * reference's tls() block (`lib/transport/transport-tls.c`);
        * same framing on top of the encrypted stream */
      tls: Option[(String, String)] = None)
      extends SocketListener {

    private val server: ServerSocket = tls match {
      case Some((certFile, keyFile)) =>
        PemTls.serverContext(certFile, keyFile)
          .getServerSocketFactory.createServerSocket()
      case None => new ServerSocket()
    }
    private val running = new AtomicBoolean(false)
    private val spool = new Spool(spoolDir, flushLines, flushMs)
    // framing shared with UnixSource — see [[FrameReader]]
    private val reader = new FrameReader(octetCounted, maxMsgSize)
    private var threads: List[Thread] = Nil

    def boundPort: Int = server.getLocalPort
    /** Frames accepted so far (for tests/metrics — the reference's
      * `processed` counter). */
    def receivedCount: Long = spool.receivedCount

    def start(): Listener = {
      server.bind(new InetSocketAddress("127.0.0.1", port))
      running.set(true)
      val acceptor = Spool.daemon("graft-tcp-acceptor") {
        while (running.get()) {
          try {
            val sock = server.accept()
            val h = Spool.daemon(s"graft-tcp-conn-${sock.getPort}")(handle(sock))
            synchronized { threads = h :: threads }
          } catch { case _: java.io.IOException => () /* closed */ }
        }
      }
      val flusher = Spool.daemon("graft-tcp-flusher") {
        spool.flusherLoop(() => running.get())
      }
      synchronized { threads = acceptor :: flusher :: threads }
      this
    }

    /** Stop accepting, drain connections, flush the spool. */
    def stop(): Unit = {
      running.set(false)
      server.close()
      synchronized(threads).foreach(_.join(5000))
      spool.flush(force = true)
    }

    private def handle(sock: Socket): Unit = {
      try {
        val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
        // proxy-protocol v1: the header is the connection's first
        // NEWLINE-terminated line regardless of the record framing
        // (logproto-proxied-text-server.c consumes it before framing
        // begins). The handshake uses the SAME strictness as the
        // ProxyProto expression; a line that does not parse is a
        // handshake failure and DROPS the whole connection
        // (LPS_ERROR, logproto-proxied-text-server.c:193-224 — the
        // source_drivers/network_source/proxyprotocol battery's
        // test_pp_with_simple_tcp_connection expects no output at
        // all for a non-proxied client). On success every frame of
        // the connection is spooled with its header
        // attached (frames are newline-framed so neither side can
        // contain the separator byte), mirroring how the reference
        // carries the connection's PROXIED_* aux values on each
        // message — including across a config reload (the header
        // rides the durable spool record, test_pp_reload.py). The
        // separator is U+0001 (never in a newline-framed payload).
        if (proxyProtocol) {
          val header = reader.readLine(in)
          if (header == null ||
              !graft.functions.ProxyProtoHeader.parse(
                org.apache.spark.unsafe.types.UTF8String
                  .fromString(header)).getBoolean(0))
            return
          var frame = reader.readFrame(in)
          while (frame != null) {
            spool.accept(header + "\u0001" + frame)
            frame = reader.readFrame(in)
          }
          return
        }
        var frame = reader.readFrame(in)
        while (frame != null) {
          spool.accept(frame)
          frame = reader.readFrame(in)
        }
      } catch {
        case _: java.io.IOException => ()
        // a non-IO failure must drop the connection, not silently kill
        // the handler thread mid-stream
        case scala.util.control.NonFatal(_) => ()
      } finally sock.close()
    }
  }

  /** Start a listener and return it with the streaming frame source
    * over its spool — `source { network(transport(tcp) port(N)); }`
    * for one node: push lines at the socket, read them as a streaming
    * DataFrame of raw lines (`value`, `source_file`). */
  def listen(spark: SparkSession, spoolDir: String, port: Int = 0,
      octetCounted: Boolean = false, proxyProtocol: Boolean = false,
      maxMsgSize: Int = 65536,
      tls: Option[(String, String)] = None): (Listener, DataFrame) = {
    val l = new Listener(port, spoolDir, octetCounted, proxyProtocol,
      maxMsgSize, tls = tls).start()
    (l, Spool.lines(spark, spoolDir))
  }
}
