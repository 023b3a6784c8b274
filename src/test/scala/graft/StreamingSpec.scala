package graft

import graft.dsl.LogPath.{Channel, Filter, Final}
import graft.streaming.{Internal, Sinks, Sources, Stateful}
import graft.streaming.Stateful.Msg
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
  private def tmp(): String = Files.createTempDirectory("graft-stream").toString

  test("groupingBy stream: trigger closes early, watermark timeout closes rest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.groupingBy(
      input.toDS().withWatermark("ts", "0 seconds"), timeoutSeconds = 60,
      trigger = Some(3))
    val q = out.writeStream.format("memory").queryName("gb_out")
      .outputMode("append").start()
    try {
      // k1: 4 events → trigger at 3, 1 left in state; k2: 1 event
      input.addData(Msg("k1", ts(100), "a"), Msg("k1", ts(101), "b"),
        Msg("k1", ts(102), "c"), Msg("k1", ts(110), "d"), Msg("k2", ts(100), "x"))
      q.processAllAvailable()
      // advance watermark beyond 110+60, then one more batch to fire timeouts
      input.addData(Msg("adv", ts(1000), "w1"))
      q.processAllAvailable()
      input.addData(Msg("adv2", ts(2000), "w2"))
      q.processAllAvailable()
      val rows = spark.table("gb_out")
        .select("key", "n", "values", "closedBy").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      assert(rows.contains(("k1", 3L, "a,b,c", "trigger")))
      assert(rows.contains(("k1", 1L, "d", "timeout")))
      assert(rows.contains(("k2", 1L, "x", "timeout")))
    } finally q.stop()
  }

  test("streaming exact dedup: fingerprint state expires with the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.dedupExact(
      input.toDS().withWatermark("ts", "0 seconds"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // batch 1: payload "a" twice (different ts), "b" once → "a" deduped
      input.addData(Msg("k1", ts(100), "a"), Msg("k1", ts(101), "a"),
        Msg("k1", ts(102), "b"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
      // watermark has passed ts(102); the "a" state entry expired, so a
      // LATE-window recurrence of "a" is admitted again (bounded state)
      input.addData(Msg("k1", ts(500), "a"))
      q.processAllAvailable()
      val vals = spark.table("dedup_out").select("value").collect()
        .map(_.getString(0)).toSeq.sorted
      assert(vals == Seq("a", "a", "b"))
    } finally q.stop()
  }

  test("suppress stream: first passes, repeats summarized on timeout") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.suppress(
      input.toDS().withWatermark("ts", "0 seconds"), seconds = 10)
    val q = out.writeStream.format("memory").queryName("sup_out")
      .outputMode("append").start()
    try {
      input.addData(Msg("h1|prog|oom", ts(100), "oom"),
        Msg("h1|prog|oom", ts(105), "oom"), Msg("h1|prog|oom", ts(109), "oom"),
        Msg("h1|prog|oom", ts(150), "oom"))
      q.processAllAvailable()
      input.addData(Msg("adv", ts(1000), "w"))
      q.processAllAvailable()
      input.addData(Msg("adv2", ts(2000), "w"))
      q.processAllAvailable()
      val rows = spark.table("sup_out").select("kind", "tsUs", "n").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // 100 emits, 105+109 suppressed (chain), 150 emits fresh
      assert(rows.contains(("msg", 100000000L, 0L)))
      assert(rows.contains(("summary", 109000000L, 2L)))
      assert(rows.contains(("msg", 150000000L, 0L)))
    } finally q.stop()
  }

  test("throttle stream: caps per key per event-time second") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.throttle(
      input.toDS().withWatermark("ts", "0 seconds"), n = 2)
    val q = out.writeStream.format("memory").queryName("thr_out")
      .outputMode("append").start()
    try {
      input.addData(Msg("d1", ts(100), "1"), Msg("d1", ts(100), "2"),
        Msg("d1", ts(100), "3"), Msg("d1", ts(101), "4"), Msg("d2", ts(100), "5"))
      q.processAllAvailable()
      val kept = spark.table("thr_out").select("value").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(kept == Seq("1", "2", "4", "5"))
    } finally q.stop()
  }

  test("mark-freq: idle keys emit catch-up MARKs at freq boundaries") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.markFreq(
      input.toDS().withWatermark("ts", "0 seconds"), seconds = 60)
    val q = out.writeStream.format("memory").queryName("mark_out")
      .outputMode("append").start()
    try {
      input.addData(Msg("dst1", ts(100), "a"))
      q.processAllAvailable()
      // watermark to 310: boundaries 160, 220, 280 elapsed idle
      input.addData(Msg("other", ts(310), "w"))
      q.processAllAvailable()
      input.addData(Msg("other2", ts(5000), "w"))
      q.processAllAvailable()
      val marks = spark.table("mark_out")
        .filter(col("key") === "dst1").select("tsUs", "message", "facility", "severity")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
      assert(marks.take(3).toSeq == Seq(
        (160000000L, "-- MARK --", 5, 6),
        (220000000L, "-- MARK --", 5, 6),
        (280000000L, "-- MARK --", 5, 6)), marks.toSeq.toString)
      // marks keep coming while idle (timer re-arms each firing)
      assert(marks.length > 3)
    } finally q.stop()
  }

  test("mark-freq: traffic postpones the mark timer (dst-idle)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = Stateful.markFreq(
      input.toDS().withWatermark("ts", "0 seconds"), seconds = 60)
    val q = out.writeStream.format("memory").queryName("mark_idle_out")
      .outputMode("append").start()
    try {
      // steady traffic every 30s < freq: no mark may fire in 100..250
      input.addData(Msg("d", ts(100), "a"), Msg("d", ts(130), "b"),
        Msg("d", ts(160), "c"), Msg("d", ts(190), "d"), Msg("d", ts(220), "e"),
        Msg("d", ts(250), "f"))
      q.processAllAvailable()
      input.addData(Msg("adv", ts(320), "w"))
      q.processAllAvailable()
      input.addData(Msg("adv2", ts(1000), "w"))
      q.processAllAvailable()
      val marks = spark.table("mark_idle_out").filter(col("key") === "d")
        .select("tsUs").collect().map(_.getLong(0)).sorted
      // first mark only after the last message + freq
      assert(marks.nonEmpty && marks.head == 310000000L, marks.toSeq.toString)
    } finally q.stop()
  }

  test("checkpoint restart: grouping-by sessions survive a stream restart") {
    // the reference persists open grouping-by contexts across config
    // reloads (modules/dbparser/groupingby.c:489-566); the Spark analog
    // is state-store restore from the checkpoint. Divergence (documented
    // in Stateful's scaladoc): timeouts are event-time/watermark-driven,
    // not wall-clock. Runs under the RocksDB provider — the production
    // default (ConfigCompiler.compileStreamingPipeline) — so restart
    // recovery is proven on the store a real deployment uses.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val inDir = tmp(); val outDir = tmp(); val chk = tmp()
      def startQuery() = {
        val msgs = Sources.fileLines(spark, inDir + "/*.csv")
          .select(split(col("value"), ",").as("f"))
          .select(col("f").getItem(0).as("key"),
            timestamp_seconds(col("f").getItem(1).cast("long")).as("ts"),
            col("f").getItem(2).as("value"))
          .withWatermark("ts", "0 seconds").as[Msg]
        Stateful.groupingBy(msgs, timeoutSeconds = 60)
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", chk)
          .outputMode("append").start()
      }
      // phase 1: open a session (2 events), checkpoint, stop mid-session
      Files.writeString(java.nio.file.Path.of(inDir, "f1.csv"), "k1,100,a\nk1,101,b\n")
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      // phase 2: fresh query from the same checkpoint — a third event must
      // join the RESTORED session; the watermark advance then times it out
      Files.writeString(java.nio.file.Path.of(inDir, "f2.csv"), "k1,110,c\nadv,1000,w\n")
      val q2 = startQuery()
      q2.processAllAvailable()
      Files.writeString(java.nio.file.Path.of(inDir, "f3.csv"), "adv2,2000,w\n")
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir)
        .select("key", "n", "values", "closedBy").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      // n=3 with pre-restart values a,b proves the state crossed the restart
      assert(rows.contains(("k1", 3L, "a,b,c", "timeout")), rows.toString)
      assert(rows.contains(("adv", 1L, "w", "timeout")))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("wildcard-file source: per-file line order survives a restart") {
    // the reference reads glob members with per-file readers and
    // monotone positions (modules/affile/wildcard-source.c:103-299) —
    // the ordering property the TCP/UDP spool relies on. Here: files
    // already read before the stop are not re-emitted after the
    // restart (checkpointed position), new files are, and within each
    // file the emitted rows keep the file's line order (one text split
    // per small file ⇒ one ordered partition).
    val inDir = tmp(); val outDir = tmp(); val chk = tmp()
    def write(name: String, n: Int): Unit =
      Files.writeString(java.nio.file.Path.of(inDir, name),
        (1 to n).map(i => s"$name:$i").mkString("", "\n", "\n"))
    def startQuery() = Sources.fileLines(spark, inDir + "/*.log")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", chk)
      .start()
    write("a.log", 50)
    write("b.log", 50)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    write("c.log", 50)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(outDir).select("value").collect()
      .map(_.getString(0)).toSeq
    // exactly-once across the restart: 150 rows, no dups, no loss
    assert(rows.size == 150 && rows.toSet.size == 150)
    // per-file order: within each parquet output, rows of one source
    // file appear in ascending line order
    for (f <- Seq("a.log", "b.log", "c.log")) {
      val idx = rows.filter(_.startsWith(f + ":")).map(_.split(":")(1).toInt)
      assert(idx == idx.sorted, s"$f out of order: $idx")
    }
  }

  test("checkpoint restart: correlation counter crosses the restart") {
    // under RocksDB, like the grouping-by restart above (the production
    // default provider — ConfigCompiler.compileStreamingPipeline)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val inDir = tmp(); val outDir = tmp(); val chk = tmp()
      def startQuery() = {
        val msgs = Sources.fileLines(spark, inDir + "/*.csv")
          .select(split(col("value"), ",").as("f"))
          .select(col("f").getItem(0).as("key"),
            timestamp_seconds(col("f").getItem(1).cast("long")).as("ts"),
            col("f").getItem(2).as("value"))
          .withWatermark("ts", "0 seconds").as[Msg]
        graft.streaming.Correlate.correlate(msgs, timeoutSeconds = 300,
            onMatchAtLength = Some(3))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", chk)
          .outputMode("append").start()
      }
      Files.writeString(java.nio.file.Path.of(inDir, "f1.csv"), "c1,100,a\nc1,101,b\n")
      val q1 = startQuery()
      q1.processAllAvailable()
      q1.stop()
      // the third event arrives AFTER the restart: the on-match action can
      // only fire if the restored context still counts the first two
      Files.writeString(java.nio.file.Path.of(inDir, "f2.csv"), "c1,102,c\n")
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      val rows = spark.read.parquet(outDir).select("key", "kind", "n", "values")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
      assert(rows.contains(("c1", "match", 3L, "a,b,c")), rows.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("file source + parsedSyslog streaming end-to-end") {
    val dir = tmp()
    Files.writeString(java.nio.file.Path.of(dir, "a.log"),
      "<13>Jun  1 12:00:00 web1 nginx[7]: GET /\n<11>Jun  1 12:00:01 db1 pg[8]: commit\n")
    val parsed = Sources.parsedSyslog(Sources.fileLines(spark, dir + "/*.log"))
    val q = parsed.writeStream.format("memory").queryName("src_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("src_out").select("host", "program", "severity")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(rows == Set(("web1", "nginx", 5), ("db1", "pg", 3)))
    } finally q.stop()
  }

  test("multiline framing: regexp start + indented") {
    val dir = tmp()
    Files.writeString(java.nio.file.Path.of(dir, "m.log"),
      "ERROR boom\n  at Foo.scala:1\n  at Bar.scala:2\nINFO ok\nERROR again\n  cause\n")
    val recs = Sources.multilineRecords(spark, dir + "/*.log", "(ERROR|INFO)")
      .select("record").collect().map(_.getString(0)).toSeq
    assert(recs == Seq("ERROR boom\n  at Foo.scala:1\n  at Bar.scala:2",
      "INFO ok", "ERROR again\n  cause"))
    val ind = Sources.indentedMultilineRecords(spark, dir + "/*.log")
      .select("record").collect().map(_.getString(0)).toSeq
    assert(ind.head == "ERROR boom\n  at Foo.scala:1\n  at Bar.scala:2")
  }

  test("templated-path sink: partitionBy = file(\"$HOST/...\") dynamic paths") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    input.addData(Msg("web1", ts(1), "a"), Msg("web1", ts(2), "b"), Msg("db1", ts(3), "c"))
    val out = tmp(); val cp = tmp()
    val q = Sinks.foreachBatchPartitioned(input.toDS().toDF(), out, Seq("key"), cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    // one directory per host, like the reference's templated file paths
    assert(spark.read.parquet(out).where(col("key") === "web1").count() == 2)
    assert(new java.io.File(out).listFiles().map(_.getName).count(_.startsWith("key=")) == 2)
  }

  test("jdbc sink: sql() destination into embedded Derby") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    input.addData(Msg("k1", ts(1), "v1"), Msg("k2", ts(2), "v2"))
    val db = tmp() + "/derbydb"
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val q = Sinks.jdbcSink(input.toDS().toDF(), url, "logs", props, tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) finally q.stop()
    val back = spark.read.jdbc(url, "logs", props)
    assert(back.count() == 2)
    assert(back.select("value").collect().map(_.getString(0)).sorted.toSeq == Seq("v1", "v2"))
  }

  test("correlate: on-match action with condition + rate limit, timeout summary") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    val out = graft.streaming.Correlate.correlate(
      input.toDS().withWatermark("ts", "0 seconds"), timeoutSeconds = 60,
      onMatchAtLength = Some(3), rateLimit = Some((1, 3600)))
    val q = out.writeStream.format("memory").queryName("corr_out")
      .outputMode("append").start()
    try {
      // 4 fails in one context: condition n>=3 satisfied at msg 3 AND 4,
      // but the 1/hour token bucket lets only the first action fire
      input.addData(Msg("host1|ssh-fail", ts(100), "f1"),
        Msg("host1|ssh-fail", ts(101), "f2"), Msg("host1|ssh-fail", ts(102), "f3"),
        Msg("host1|ssh-fail", ts(103), "f4"))
      q.processAllAvailable()
      input.addData(Msg("adv", ts(5000), "w"))
      q.processAllAvailable()
      input.addData(Msg("adv2", ts(9000), "w"))
      q.processAllAvailable()
      val rows = spark.table("corr_out").select("key", "kind", "n", "values")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      val matches = rows.filter(r => r._1 == "host1|ssh-fail" && r._2 == "match")
      assert(matches.toSeq == Seq(("host1|ssh-fail", "match", 3L, "f1,f2,f3")))
      assert(rows.contains(("host1|ssh-fail", "timeout", 4L, "f1,f2,f3,f4")))
    } finally q.stop()
  }

  test("fan-out sink: one batch, disjoint branch outputs with final semantics") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Msg]
    input.addData(Msg("err", ts(1), "e1"), Msg("err", ts(2), "e2"),
      Msg("other", ts(3), "o1"))
    val out = tmp(); val cp = tmp()
    val q = Sinks.startFanOutParquet(input.toDS().toDF(), out, cp, Seq(
      Channel("errors", Seq(Filter(col("key") === "err")), Set(Final)),
      Channel("rest", Nil)))
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.read.parquet(out + "/errors").count() == 2)
    assert(spark.read.parquet(out + "/rest").count() == 1)
  }

  test("pdb rule drives correlation: contextKey from scope + context-id template") {
    // load a correlation rule (scope program, id = $PID-like capture)
    val xml = """<patterndb version='5' pub_date='2010-01-01'>
      <ruleset name='rs' id='1'><patterns><pattern>appd</pattern></patterns>
        <rules><rule provider='t' id='corr-1' class='violation'
            context-scope='program' context-id='$sess' context-timeout='60'>
          <patterns><pattern>fail sess=@NUMBER:sess@</pattern></patterns>
        </rule></rules>
      </ruleset></patterndb>"""
    val rule = graft.patterndb.PdbLoader.loadString(xml).head.rules.head
    import spark.implicits._
    val classified = Seq(
      ("h1", "appd", "fail sess=7", 100L), ("h1", "appd", "fail sess=7", 101L),
      ("h1", "appd", "fail sess=9", 102L), ("h2", "appd", "fail sess=7", 103L))
      .toDF("host", "program", "message", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withColumn("r", graft.functions.RadixMatch(col("message"),
        graft.patterndb.PdbLoader.radixRules(Seq(
          graft.patterndb.PdbLoader.loadString(xml).head))))
      .withColumn("values", col("r.captures"))
    val keyed = classified.select(
      graft.streaming.Correlate.contextKey(rule.contextScope, rule.contextId,
        Seq("host", "program", "message", "values")).as("key"),
      col("ts"), col("message").as("value")).as[Msg]
    // same (host, program, sess) -> same context; sess/host changes split it
    val keys = keyed.collect().map(_.key)
    assert(keys(0) == keys(1))
    assert(keys(0) != keys(2) && keys(0) != keys(3))
    assert(keys(0).endsWith("7"))
  }

  test("internal() surfaces scheduler events as LogRecord rows") {
    val l = Internal.attach(spark)
    try {
      spark.range(1000).selectExpr("sum(id)").collect() // provoke a job
      // listener bus is async: poll until events land
      val deadline = System.currentTimeMillis() + 30000
      while (Internal.snapshot(spark, l).isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val snap = Internal.snapshot(spark, l)
      val msgs = snap.select("message").collect().map(_.getString(0))
      assert(msgs.exists(_.contains("job")), msgs.mkString("; "))
      assert(snap.select("program").head.getString(0) == "spark")
      assert(snap.select("facility").head.getInt(0) == 5)
      // internal rows are pipeline-compatible: filter like any message
      val errors = snap.filter(graft.operators.Filters.severityRange("emerg", "err"))
      assert(errors.count() == 0) // healthy run: no error-severity events
    } finally Internal.detach(spark, l)
  }
  test("multi-line garbage/suffix trims (test-regexp-multiline-server.c:78-166)") {
    import graft.streaming.Sources
    def trim(rec: String, g: Option[String], sfx: Option[String]): String =
      Seq(rec).toDF("r").select(Sources.trimRecord(col("r"), g, sfx)).head.getString(0)
    // garbage mode: first " Bar$" match and everything after drops
    assert(trim("Foo First Line Bar", Some(" Bar$"), None) == "Foo First Line")
    assert(trim("Foo Multiline\nmulti Bar", Some(" Bar$"), None) == "Foo Multiline\nmulti")
    // suffix mode: the match itself is kept
    assert(trim("prefix first suffix garbage", None, Some("suffix")) == "prefix first suffix")
    assert(trim("prefix multi\nsuffix garbage", None, Some("suffix")) == "prefix multi\nsuffix")
    // no trim configured: record passes through
    assert(trim("plain", None, None) == "plain")
  }
  test("indented multi-line battery (test-indented-multiline-server.c:34-140)") {
    import graft.streaming.Sources
    def records(payload: String): Seq[String] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-indented")
      java.nio.file.Files.write(dir.resolve("in.log"),
        payload.getBytes("UTF-8"))
      Sources.indentedMultilineRecords(spark, dir.toString + "/*.log")
        .select("record").collect().map(_.getString(0)).toSeq
    }
    // proper multiline: indented continuations join, newline-kept,
    // trailing newline stripped; at EOF the pending block flushes
    assert(records("0\n 1=2\n 3=4\nnewline\n") ==
      Seq("0\n 1=2\n 3=4", "newline"))
    // lines without continuation are standalone messages
    assert(records("01234567\n01234567\nnewline\n") ==
      Seq("01234567", "01234567", "newline"))
    // input STARTING with a continuation: the orphan block is its own
    // message, leading whitespace kept
    assert(records(" 01234567\n01234567\nnewline\n") ==
      Seq(" 01234567", "01234567", "newline"))
    // multiline at EOF flushes joined
    assert(records("01234567\n 01234567\n end\n") ==
      Seq("01234567\n 01234567\n end"))
  }
  test("padded fixed-size records: NUL cut + whitespace strip (test-record-server.c:67-105)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-padded")
    val f = dir.resolve("records.bin")
    val out = new java.io.FileOutputStream(f.toFile)
    out.write("0123456789ABCDEF0123456789ABCDEF".getBytes("UTF-8"))
    out.write(("01234567" + "\n" * 24).getBytes("UTF-8"))
    out.write("01234567".getBytes("UTF-8")); out.write(new Array[Byte](24))
    out.write(("\u00e1rv\u00edzt" + "\n" * 22).getBytes("ISO-8859-1").take(32))
    // record starting with NUL reads as ""
    out.write(new Array[Byte](32))
    // short trailing record drops
    out.write("01234".getBytes("UTF-8"))
    out.close()
    val rows = graft.streaming.Sources.paddedRecords(spark, f.toString, 32)
      .select("value").collect().map(_.getString(0))
    assert(rows.length == 5)
    assert(rows(0) == "0123456789ABCDEF0123456789ABCDEF")
    assert(rows(1) == "01234567")
    assert(rows(2) == "01234567")
    assert(rows(4) == "")
  }
  test("encoding() decodes iso-8859-2 payloads (logreader encoding option)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-enc")
    val f = dir.resolve("latin2.log")
    // "árvíztűrő tükörfúrógép" in ISO-8859-2 bytes
    java.nio.file.Files.write(f,
      "\u00e1rv\u00edzt\u0171r\u0151 t\u00fck\u00f6rf\u00far\u00f3g\u00e9p\nsecond line\n"
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-2")))
    val rows = graft.streaming.Sources.fileLinesEncoded(spark, f.toString, "ISO-8859-2")
      .select("value").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("\u00e1rv\u00edzt\u0171r\u0151 t\u00fck\u00f6rf\u00far\u00f3g\u00e9p", "second line"))
  }
}
