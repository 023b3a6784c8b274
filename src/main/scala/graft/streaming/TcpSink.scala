package graft.streaming

import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** network()/syslog() DESTINATION — TCP egress
  * (`/root/reference/modules/afsocket/afinet-dest.c`): each rendered
  * message is written newline-delimited (network(), the reference's
  * `transport(tcp)` text protocol) or RFC6587 octet-counted
  * (syslog(), `lib/logproto/logproto-framed-client.c`: `LEN SP
  * payload`). `failover()` servers (`afinet-dest-failover.c`) are
  * tried in order: on connect/write failure the sender reconnects to
  * the NEXT address and re-sends the in-flight message — at-least-once
  * exactly like the reference's requeue-on-disconnect, with the
  * micro-batch checkpoint as the disk-buffer analog.
  *
  * One socket per live target per partition per micro-batch;
  * partitions send in parallel. `loadBalance` turns the target list
  * into a message-keyed spread (`scl/loadbalancer/`) instead of a
  * failover chain. This is the relay pair of the EWMM formats:
  * format-ewmm → syslog() destination → [[TcpSource]] (octet-counted)
  * → ewmm-parser is a lossless hop (SclSpec/TcpSourceSpec e2e).
  */
object TcpSink {

  /** @param targets   (host, port) list — head is the primary, the rest
    *                   the failover() chain of afinet-dest-failover.c
    * @param delimiter  trailing frame delimiter for the non-octet text
    *                   protocol — "\n" for network(tcp); NUL (0x00) for
    *                   GELF TCP framing (`scl/graylog2/plugin.conf`'s
    *                   `$(binary 0x00)` template suffix)
    * @param unixPath   when set, connect to this unix-stream() socket
    *                   path instead of the TCP targets
    *                   (`modules/afsocket/afunix-dest.c`) */
  final case class Config(
      targets: Seq[(String, Int)],
      octetCounted: Boolean = false,
      connectTimeoutMs: Int = 10000,
      retries: Int = 3,
      retryBackoffMs: Long = 100L,
      delimiter: String = "\n",
      unixPath: Option[String] = None,
      /** network-load-balancer() (`scl/loadbalancer/`): spread
        * messages ACROSS the target list instead of treating it as a
        * failover chain. The reference distributes by `$(% ${R_MSEC}
        * N)` — arrival-time modulo; in batch replay arrival time is
        * meaningless, so the translation keys on the message hash:
        * same uniform spread, deterministic under micro-batch replay
        * (a message always lands on the same target). A dead target
        * fails over to the next, like the generated channels'
        * flags(final) fallthrough. */
      loadBalance: Boolean = false,
      /** Bytes written once per fresh connection before any message —
        * the protocol hello some drivers need: redis AUTH
        * (`modules/redis/redis.c` redis worker connect), the STOMP
        * CONNECT frame (`modules/afstomp/afstomp.c:189-199`), SMTP
        * EHLO. Sent raw (no [[frame]]ing). */
      greeting: Option[String] = None,
      /** `transport(tls)` client side (`modules/afsocket/afinet-dest.c`
        * + `lib/transport/transport-tls.c`): the CA file verifies the
        * server certificate ([[PemTls.clientContext]]). */
      tlsCaFile: Option[String] = None,
      /** `transport(udp)` (`afinet-dest.c` SOCK_DGRAM path): one
        * message = one datagram, no framing/delimiter, payload capped
        * at the IPv4 maximum (afinet-dest.c:108-127 caps max_msglen at
        * 65535 minus IP+UDP headers). Sends are connectionless — no
        * failover chain, no delivery guarantee, exactly the
        * reference's UDP semantics. */
      udp: Boolean = false)

  private def frame(cfg: Config, msg: String): Array[Byte] = {
    val payload = msg.getBytes(StandardCharsets.UTF_8)
    if (cfg.octetCounted) {
      val head = s"${payload.length} ".getBytes(StandardCharsets.UTF_8)
      val out = new Array[Byte](head.length + payload.length)
      System.arraycopy(head, 0, out, 0, head.length)
      System.arraycopy(payload, 0, out, head.length, payload.length)
      out
    } else {
      val delim = cfg.delimiter.getBytes(StandardCharsets.UTF_8)
      val out = new Array[Byte](payload.length + delim.length)
      System.arraycopy(payload, 0, out, 0, payload.length)
      System.arraycopy(delim, 0, out, payload.length, delim.length)
      out
    }
  }

  /** One live connection: a TCP Socket or a unix-stream
    * SocketChannel, abstracted to its OutputStream. */
  private final class Conn(closeable: AutoCloseable,
      val out: java.io.OutputStream) {
    def close(): Unit =
      try closeable.close() catch { case scala.util.control.NonFatal(_) => () }
  }

  private def connect(cfg: Config, idx: Int): Conn = cfg.unixPath match {
    case Some(path) =>
      val ch = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      new Conn(ch, java.nio.channels.Channels.newOutputStream(ch))
    case None =>
      val (host, port) = cfg.targets(idx % cfg.targets.size)
      val s = new Socket()
      s.connect(new InetSocketAddress(host, port), cfg.connectTimeoutMs)
      cfg.tlsCaFile match {
        case Some(ca) =>
          val tls = PemTls.clientContext(ca).getSocketFactory
            .createSocket(s, host, port, true)
            .asInstanceOf[javax.net.ssl.SSLSocket]
          tls.startHandshake()
          new Conn(tls, tls.getOutputStream)
        case None => new Conn(s, s.getOutputStream)
      }
  }

  /** Send one partition's messages over one connection, failing over
    * across the target list; throws when every target refused
    * `retries`+1 times — failing the micro-batch for replay. */
  /** UDP egress: one datagram per message to the primary target. */
  private def sendPartitionUdp(cfg: Config, msgs: Iterator[String]): Unit = {
    val (host, port) = cfg.targets.head
    val addr = new InetSocketAddress(host, port)
    val sock = new java.net.DatagramSocket()
    try msgs.foreach { m =>
      val payload = m.getBytes(StandardCharsets.UTF_8)
      val len = math.min(payload.length, 65507)
      sock.send(new java.net.DatagramPacket(payload, len, addr))
    } finally sock.close()
  }

  private[graft] def sendPartition(cfg: Config, msgs: Iterator[String]): Unit = {
    require(cfg.targets.nonEmpty || cfg.unixPath.isDefined,
      "tcp destination needs at least one target")
    if (cfg.udp) return sendPartitionUdp(cfg, msgs)
    val nTargets = math.max(cfg.targets.size, 1)
    // one connection slot per target: slot 0 only in failover mode,
    // message-keyed slots in load-balance mode
    val socks = new Array[Conn](nTargets)
    val dead = new Array[Boolean](nTargets)
    var attempt = 0
    try {
      msgs.foreach { m =>
        val bytes = frame(cfg, m)
        val home =
          if (cfg.loadBalance) Math.floorMod(m.hashCode, nTargets) else 0
        var idx = home
        var sent = false
        while (!sent) {
          val slot = idx % nTargets
          // a target marked dead is skipped (sticky failover — not
          // re-dialed per message) unless every target is dead, in
          // which case we re-try it until the attempt budget runs out
          if (dead(slot) && !dead.forall(identity)) idx += 1
          else {
            try {
              if (socks(slot) == null) {
                socks(slot) = connect(cfg, slot)
                dead(slot) = false
                cfg.greeting.foreach(g =>
                  socks(slot).out.write(g.getBytes(StandardCharsets.UTF_8)))
              }
              socks(slot).out.write(bytes)
              sent = true
            } catch {
              case e: java.io.IOException =>
                if (socks(slot) != null) socks(slot).close()
                socks(slot) = null
                dead(slot) = true
                if (attempt >= cfg.retries * nTargets)
                  throw new java.io.IOException(
                    s"tcp destination: all targets failed after $attempt attempts", e)
                attempt += 1
                idx += 1
                Thread.sleep(cfg.retryBackoffMs * (attempt / nTargets + 1))
            }
          }
        }
      }
      socks.foreach(s => if (s != null) s.out.flush())
    } finally socks.foreach(s => if (s != null) s.close())
  }

  /** Streaming form: render `bodyCol` per row, send per partition. */
  def tcpSink(ds: Dataset[Row], bodyCol: String, cfg: Config,
      checkpoint: String): DataStreamWriter[Row] =
    ds.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        writeBatch(batch.toDF(), bodyCol, cfg)
      }

  /** Batch form — also what each micro-batch runs. */
  def writeBatch(df: DataFrame, bodyCol: String, cfg: Config): Unit =
    df.select(col(bodyCol).cast("string")).foreachPartition {
      (rows: Iterator[Row]) => sendPartition(cfg, rows.map(_.getString(0)))
    }
}
