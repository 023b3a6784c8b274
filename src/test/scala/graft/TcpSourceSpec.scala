package graft

import graft.streaming.{Sources, TcpSource}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Dev-mode TCP listener e2e: a real socket pushes syslog lines
  * through framing → spool → Structured Streaming file source →
  * ParseSyslog, the loggen shape of the reference's
  * `tests/functional/test_performance.py`. */
class TcpSourceSpec extends GraftSuite {

  private def send(port: Int, payload: String): Unit = {
    val s = new java.net.Socket("127.0.0.1", port)
    try {
      val os = s.getOutputStream
      os.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      os.flush()
    } finally s.close()
  }

  private def awaitCount(l: graft.streaming.SocketListener, n: Long): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (l.receivedCount < n && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(l.receivedCount == n, s"listener got ${l.receivedCount}, want $n")
  }

  test("socket -> spool -> streaming parse e2e (newline framing)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp").toString
    val (listener, lines) = TcpSource.listen(spark, s"$dir/spool")
    try {
      val msgs = (1 to 500).map(i =>
        s"<13>Jan 12 03:04:05 h${i % 7} app$i: payload $i")
      send(listener.boundPort, msgs.mkString("", "\n", "\n"))
      awaitCount(listener, 500)
      listener.stop()
      val q = Sources.parsedSyslog(lines)
        .writeStream.format("memory").queryName("tcp_e2e")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val out = spark.table("tcp_e2e")
      assert(out.count() == 500)
      val r = out.filter(col("program") === "app42")
        .select("host", "message").head()
      assert(r.getString(0) == "h0" && r.getString(1) == "payload 42")
    } finally listener.stop()
  }

  test("octet-counted framing with proxy-protocol handshake: header " +
      "attached to every frame of the connection") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp2").toString
    val (listener, lines) = TcpSource.listen(spark, s"$dir/spool",
      octetCounted = true, proxyProtocol = true)
    try {
      val hdr = "PROXY TCP4 1.2.3.4 5.6.7.8 1042 514"
      val m1 = "<13>1 2024-01-12T00:00:00Z h1 app - - - first"
      val m2 = "<13>1 2024-01-12T00:00:00Z h2 app - - - second with space"
      val payload = hdr + "\n" + s"${m1.length} $m1" + s"${m2.length} $m2"
      send(listener.boundPort, payload)
      awaitCount(listener, 2)
      listener.stop()
      val q = lines.writeStream.format("memory").queryName("tcp_octet")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      // r15: the spool record is <header> U+0001 <frame> — the
      // connection's PROXIED_* aux data rides every message
      // (logproto-proxied-text-server.c:169-186), not just the first
      val got = spark.table("tcp_octet").select("value")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq(s"$hdr\u0001$m1", s"$hdr\u0001$m2").sorted, got)
    } finally listener.stop()
  }

  test("malformed octet frames drop the connection, not the listener") {
    // logproto-framed-server.c "Invalid frame header": garbage lead
    // byte, non-space separator, and an int-overflowing count must not
    // emit empty/garbage frames or kill the handler thread — and the
    // next CONNECTION must still be served
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp3").toString
    val (listener, _) = TcpSource.listen(spark, s"$dir/spool",
      octetCounted = true)
    try {
      val before = listener.receivedCount
      send(listener.boundPort, "garbage no digits")        // no count
      send(listener.boundPort, "12:twelve bytes!!")        // bad separator
      send(listener.boundPort, "99999999999999999999 x")   // overflow count
      send(listener.boundPort, "99999999 x")               // absurd length
      Thread.sleep(300)
      assert(listener.receivedCount == before,
        s"malformed frames were accepted: ${listener.receivedCount - before}")
      // a fresh connection with a valid frame still works
      val ok = "<13>1 2024-01-12T00:00:00Z h1 app - - - still alive"
      send(listener.boundPort, s"${ok.length} $ok")
      awaitCount(listener, before + 1)
    } finally listener.stop()
  }

  test("tls: transport(tls) listener accepts a verified TLS client") {
    // transport-tls.c semantics on the dev listener: PEM
    // cert-file()/key-file() on the server, the client verifying the
    // peer against ca-file() (peer-verify(required-trusted)); newline
    // framing on top of the encrypted stream
    val certDir = java.nio.file.Files.createTempDirectory("graft_tls_pem")
    import scala.sys.process._
    val gen = Seq("openssl", "req", "-x509", "-newkey", "rsa:2048",
      "-nodes", "-keyout", s"$certDir/key.pem", "-out", s"$certDir/cert.pem",
      "-days", "1", "-subj", "/CN=127.0.0.1").!(ProcessLogger(_ => ()))
    assert(gen == 0, "openssl cert generation failed")
    val dir = java.nio.file.Files.createTempDirectory("graft_tls").toString
    val conf = s"""
      source s_tls { network(transport(tls) port(0)
        tls(cert-file("$certDir/cert.pem") key-file("$certDir/key.pem"))); };
      destination d { file("/out"); };
      log { source(s_tls); destination(d); };
    """
    val (routes, ls) = graft.config.ConfigCompiler.compileStreamingPipeline(
      graft.config.ConfigParser.parse(conf), spark, s"$dir/spool")
    val listener = ls("s_tls")
    try {
      val ctx = graft.streaming.PemTls.clientContext(s"$certDir/cert.pem")
      val sock = ctx.getSocketFactory.createSocket("127.0.0.1",
        listener.boundPort)
      try {
        val os = sock.getOutputStream
        os.write("<13>Jan 12 03:04:05 h1 app: secret over tls\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        os.flush()
      } finally sock.close()
      awaitCount(listener, 1)
      // a PLAINTEXT client on the TLS port is rejected (handshake
      // fails on first read) and must not poison the spool or kill
      // the listener
      send(listener.boundPort, "not tls at all\n")
      Thread.sleep(300)
      assert(listener.receivedCount == 1)
      listener.stop()
      val q = routes.head.df.writeStream.format("memory")
        .queryName("tls_cfg")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val r = spark.table("tls_cfg").select("host", "message").head()
      assert(r.getString(0) == "h1" && r.getString(1) == "secret over tls")
    } finally listener.stop()
  }

  test("udp: one datagram = one message, truncation, newline trim") {
    // logproto-dgram-server.c: the packet boundary is the record
    // boundary — no framing; RFC5426 syslog-over-UDP
    val dir = java.nio.file.Files.createTempDirectory("graft_udp").toString
    val (listener, lines) = graft.streaming.UdpSource.listen(
      spark, s"$dir/spool", maxMsgSize = 64)
    try {
      val sock = new java.net.DatagramSocket()
      def sendUdp(s: String): Unit = {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        sock.send(new java.net.DatagramPacket(b, b.length,
          java.net.InetAddress.getByName("127.0.0.1"), listener.boundPort))
      }
      sendUdp("<13>Jan 12 03:04:05 h1 app1: payload one")
      sendUdp("<13>Jan 12 03:04:05 h2 app2: trailing newline\n")
      sendUdp("<13>Jan 12 03:04:05 h3 app3: " + "x" * 200) // truncates at 64
      // test-dgram-server.c:32-75 through the msg-format layer
      // (msg-format.c:35): ALL trailing '\n' AND NUL bytes strip — a
      // "...\n\n" datagram loses both, a NUL-padded one loses the pad
      sendUdp("<13>Jan 12 03:04:05 h4 app4: both gone\n\n")
      val withNul = "<13>Jan 12 03:04:05 h5 app5: nul pad".getBytes(
        java.nio.charset.StandardCharsets.UTF_8) ++ Array.fill[Byte](3)(0)
      sock.send(new java.net.DatagramPacket(withNul, withNul.length,
        java.net.InetAddress.getByName("127.0.0.1"), listener.boundPort))
      sock.close()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.receivedCount < 5 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(listener.receivedCount == 5)
      listener.stop()
      val q = lines.writeStream.format("memory").queryName("udp_e2e")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table("udp_e2e").select("value")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got.size == 5)
      assert(got.contains("<13>Jan 12 03:04:05 h1 app1: payload one"))
      assert(got.contains("<13>Jan 12 03:04:05 h2 app2: trailing newline"))
      assert(got.contains("<13>Jan 12 03:04:05 h4 app4: both gone"))
      assert(got.contains("<13>Jan 12 03:04:05 h5 app5: nul pad"))
      assert(got.forall(_.length <= 64))
    } finally listener.stop()
  }

  test("config text: network(transport(udp)) binds the datagram listener") {
    val dir = java.nio.file.Files.createTempDirectory("graft_udp2").toString
    val conf = """
      source s_udp { network(transport(udp) port(0) log-msg-size(2048)); };
      destination d { file("/out"); };
      log { source(s_udp); destination(d); };
    """
    val (routes, ls) = graft.config.ConfigCompiler.compileStreamingPipeline(
      graft.config.ConfigParser.parse(conf), spark, s"$dir/spool")
    try {
      assert(ls.contains("s_udp"))
      val sock = new java.net.DatagramSocket()
      val b = "<13>Jan 12 03:04:05 h1 app: via udp"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      sock.send(new java.net.DatagramPacket(b, b.length,
        java.net.InetAddress.getByName("127.0.0.1"), ls("s_udp").boundPort))
      sock.close()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (ls("s_udp").receivedCount < 1 && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(ls("s_udp").receivedCount == 1)
      ls.values.foreach(_.stop())
      val q = routes.head.df.writeStream.format("memory")
        .queryName("udp_cfg")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val r = spark.table("udp_cfg").select("host", "program", "message").head()
      assert(r.getString(0) == "h1" && r.getString(1) == "app" &&
        r.getString(2) == "via udp")
    } finally ls.values.foreach(_.stop())
  }

  test("config text: network() source -> filter -> http() destination") {
    // the first-time-user loop: loggen-shaped lines at a socket, a
    // config-text pipeline, batched HTTP egress — all from config
    val bodies = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/collect", (ex: com.sun.net.httpserver.HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    srv.start()
    val dir = java.nio.file.Files.createTempDirectory("graft_cfge2e").toString
    try {
      val conf = s"""
        @version: 3.33
        source s_net { network(transport(tcp) port(0)); };
        filter f_err { severity(emerg..err); };
        destination d_http { http(url("http://127.0.0.1:${srv.getAddress.getPort}/collect")
          batch-lines(2)); };
        log { source(s_net); filter(f_err); destination(d_http); };
      """
      val (routes, ls) = graft.config.ConfigCompiler.compileStreamingPipeline(
        graft.config.ConfigParser.parse(conf), spark, s"$dir/spool")
      val listener = ls("s_net")
      // severities: <11> err (kept), <14> info (filtered out)
      send(listener.boundPort,
        "<11>Jan 12 03:04:05 h1 app[7]: disk failing\n" +
          "<14>Jan 12 03:04:05 h2 app[8]: all fine\n" +
          "<9>Jan 12 03:04:06 h3 cron[9]: oom\n")
      awaitCount(listener, 3)
      listener.stop()
      val q = graft.config.ConfigCompiler.startRoute(routes.head,
        s"$dir/out", s"$dir/cp")
      q.awaitTermination(60000)
      val lines = bodies.toArray.toSeq.asInstanceOf[Seq[String]]
        .flatMap(_.split("\n")).sorted
      // no body() -> raw $MESSAGE (http-worker.c:281), not a formatted
      // line
      assert(lines == Seq("disk failing", "oom"))
    } finally srv.stop(0)
  }

  test("flagship loop: socket -> default-network-drivers auto-route, streaming") {
    // the reference's headline deployment as config text on a LIVE
    // stream: a no-parse network source feeding the auto-routing
    // composite — mixed vendors on one socket, routed rows out
    val dir = java.nio.file.Files.createTempDirectory("graft_dnd").toString
    val conf = """
      @version: 3.33
      source s_net { network(transport(tcp) port(0) flags(no-parse)); };
      parser p_route { default-network-drivers(); };
      destination d_all { file("/out/all.log"); };
      log { source(s_net); parser(p_route); destination(d_all); };
    """
    val (routes, ls) = graft.config.ConfigCompiler.compileStreamingPipeline(
      graft.config.ConfigParser.parse(conf), spark, s"$dir/spool")
    val listener = ls("s_net")
    try {
      send(listener.boundPort,
        "<189>42: Jan 12 03:04:05: %SYS-5-CONFIG_I: Configured by console\n" +
          "<85>Jan 12 03:04:05 h1 sudo: root : TTY=pts/0 ; PWD=/ ; USER=root ; COMMAND=/bin/id\n" +
          "<13>Jan 12 03:04:05 h9 app9: nothing special\n")
      awaitCount(listener, 3)
      listener.stop()
      val q = routes.head.df
        .writeStream.format("memory").queryName("dnd_stream")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table("dnd_stream")
        .select(col("__channel"),
          element_at(col("values"), ".app.name").as("app"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("cisco", "cisco"), ("sudo", "sudo"), ("unknown", null)))
    } finally listener.stop()
  }

  test("elasticsearch-http destination emits _bulk ndjson action+doc pairs") {
    val bodies = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val srv = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    srv.createContext("/_bulk", (ex: com.sun.net.httpserver.HttpExchange) => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      ex.sendResponseHeaders(200, -1); ex.close()
    })
    srv.start()
    val dir = java.nio.file.Files.createTempDirectory("graft_es").toString
    try {
      val conf = s"""
        @version: 3.33
        source s_net { network(transport(tcp) port(0)); };
        destination d_es { elasticsearch-http(
          url("http://127.0.0.1:${srv.getAddress.getPort}/_bulk")
          index("logs-$$HOST") type("_doc") batch-lines(2)); };
        log { source(s_net); destination(d_es); };
      """
      val (routes, ls) = graft.config.ConfigCompiler.compileStreamingPipeline(
        graft.config.ConfigParser.parse(conf), spark, s"$dir/spool")
      val listener = ls("s_net")
      send(listener.boundPort,
        "<13>Jan 12 03:04:05 h1 app[7]: hello es\n" +
          "<13>Jan 12 03:04:05 h2 app[8]: second doc\n")
      awaitCount(listener, 2)
      listener.stop()
      val q = graft.config.ConfigCompiler.startRoute(routes.head,
        s"$dir/out", s"$dir/cp")
      q.awaitTermination(60000)
      val lines = bodies.toArray.toSeq.asInstanceOf[Seq[String]]
        .flatMap(_.split("\n")).filter(_.nonEmpty)
      val actions = lines.filter(_.startsWith("{\"index\""))
      val docs = lines.filterNot(_.startsWith("{\"index\""))
      assert(actions.toSet == Set(
        "{\"index\":{\"_index\":\"logs-h1\",\"_type\":\"_doc\"}}",
        "{\"index\":{\"_index\":\"logs-h2\",\"_type\":\"_doc\"}}"))
      assert(docs.size == 2)
      assert(docs.exists(d => d.contains("\"MESSAGE\":\"hello es\"") &&
        d.contains("\"HOST\":\"h1\"") && d.contains("\"PID\":\"7\"") &&
        d.contains("\"@timestamp\":\"2024-01-12T03:04:05+00:00\"")))
    } finally srv.stop(0)
  }

  test("spool tail: no file-listing job per trigger past 32 spool files") {
    // the spool directory is the stream's one root: a glob root per
    // spool file would pass the 32-root listing threshold and run a
    // "Listing leaf files and directories" job in every latestOffset
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp_tail").toString
    // submission times of listing jobs over this spool
    val listings = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val watch = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d.startsWith("Listing leaf files") && d.contains(dir))
          listings.add(e.time)
      }
    }
    var idleFrom = Long.MaxValue
    val (listener, lines) = TcpSource.listen(spark, s"$dir/spool")
    spark.sparkContext.addSparkListener(watch)
    try {
      // each 1,000 accepted lines flush one spool file
      val n = 42000
      send(listener.boundPort,
        (1 to n).map(i => s"line $i").mkString("", "\n", "\n"))
      awaitCount(listener, n.toLong)
      listener.stop()
      val files = new java.io.File(s"$dir/spool").list()
        .count(_.startsWith("spool-"))
      assert(files >= 40, s"only $files spool files")
      val q = lines.writeStream.format("memory").queryName("tcp_tail")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (spark.table("tcp_tail").count() < n &&
            System.nanoTime() < deadline) Thread.sleep(100)
        assert(spark.table("tcp_tail").count() == n)
        // the drain's getBatch lists its 40+ files once; the idle
        // triggers after it must list nothing
        idleFrom = System.currentTimeMillis()
        Thread.sleep(1000) // about twenty idle triggers
        assert(q.isActive)
      } finally q.stop()
      Thread.sleep(500) // let the listener bus deliver
      val idle = listings.iterator.asScala.count(_ >= idleFrom)
      assert(idle == 0, s"$idle file-listing jobs ran in idle triggers")
    } finally {
      spark.sparkContext.removeSparkListener(watch)
      listener.stop()
    }
  }

  test("spool tail reads only finished spool files, with full paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp_skip").toString
    val (listener, lines) = TcpSource.listen(spark, s"$dir/spool")
    try {
      // a partial in-flight file and a stray file share the directory
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/spool/.in-99.tmp"), "partial\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/spool/notes.txt"), "stray\n")
      send(listener.boundPort, "a\nb\nc\n")
      awaitCount(listener, 3)
      listener.stop()
      val q = lines.writeStream.format("memory").queryName("tcp_skip")
        .option("checkpointLocation", s"$dir/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val got = spark.table("tcp_skip").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(got.map(_._1).sorted.toSeq == Seq("a", "b", "c"))
      val spoolFile = (java.util.regex.Pattern.quote(s"$dir/spool/") +
        "spool-[0-9]{8}\\.log").r
      got.foreach { case (_, f) =>
        val path = new java.net.URI(f).getPath
        assert(spoolFile.matches(path), s"source_file $f")
      }
    } finally listener.stop()
  }

  test("socket ingest sustains the reference floor (>10k msg/s)") {
    // the reference's only executable perf number: sustained TCP
    // ingest >10k msg/s of ~160 B lines (test_performance.py:41-53).
    // Measured here: first byte -> all frames accepted AND spooled
    // durable (fsync'd rename), the arrival->durability path.
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp3").toString
    val (listener, _) = TcpSource.listen(spark, s"$dir/spool")
    try {
      val n = 50000
      val line = "<13>Jan 12 03:04:05 perfhost app: " + ("x" * 120)
      val payload = Array.fill(n)(line).mkString("", "\n", "\n")
      val t0 = System.nanoTime()
      send(listener.boundPort, payload)
      awaitCount(listener, n.toLong)
      listener.stop() // forces the final spool flush
      val secs = (System.nanoTime() - t0) / 1e9
      val rate = n / secs
      info(f"tcp ingest: $rate%,.0f msg/s over $n msgs ($secs%.2f s)")
      assert(rate > 10000, f"rate $rate%.0f msg/s below the reference floor")
      // everything that was acked reached the spool
      val spooled = spark.read.text(s"$dir/spool/spool-*.log").count()
      assert(spooled == n.toLong)
    } finally listener.stop()
  }

  test("a restarted listener on the same spool keeps the earlier files") {
    // spool file numbers continue after the highest one on disk: a second
    // listener (process restart, config reload) must not rename its first
    // file over the previous run's unread lines
    val dir = java.nio.file.Files.createTempDirectory("graft_tcp_restart").toString
    val (first, lines) = TcpSource.listen(spark, s"$dir/spool")
    try {
      send(first.boundPort, "first\n")
      awaitCount(first, 1)
    } finally first.stop()
    val (second, _) = TcpSource.listen(spark, s"$dir/spool")
    try {
      send(second.boundPort, "second\n")
      awaitCount(second, 1)
    } finally second.stop()
    val q = lines.writeStream.format("memory").queryName("tcp_restart")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("tcp_restart").select("value")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("first", "second"), got)
  }
}
